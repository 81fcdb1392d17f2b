"""Host-side measurements: a fixed CPU probe, steal time and a /proc
sampler.

``sha256_probe`` times a fixed single-thread hashing loop, so a run
taken during a slow phase of the host shows it. ``cpu_times`` reads the
time the hypervisor gave this machine's CPUs to other guests (steal),
which shows contention the single-thread probe can miss. ``ProcSampler`` walks
the Spark JVM's process tree (the JVM, the PySpark daemon and its
Python workers) a few times a second and keeps the peak of their summed
resident memory and the most Python workers seen at once.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

_PROBE_BYTES = b"\x5a" * (1 << 20)
_PROBE_ROUNDS = 160
_SAMPLE_INTERVAL = 0.25  # seconds between ProcSampler samples


def sha256_probe() -> float:
    """Seconds for a fixed sha256 workload (160 MiB, one thread)."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(_PROBE_ROUNDS):
        h.update(_PROBE_BYTES)
    h.digest()
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _status(pid: int) -> dict:
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, val = line.partition(":")
            out[key] = val.strip()
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _kb(status: dict, key: str) -> int:
    return int(status.get(key, "0 kB").split()[0])


class ProcSampler:
    """Samples the process tree under ``root_pid`` every
    ``_SAMPLE_INTERVAL`` seconds on a daemon thread, from :meth:`start`
    until :meth:`stop`."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_rss_kb = 0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(_SAMPLE_INTERVAL):
            self.sample()

    def sample(self) -> None:
        kids = _children()
        todo, tree = [self.root_pid], []
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo += kids.get(pid, [])
        rss, pythons = 0, 0
        for pid in tree:
            try:
                st = _status(pid)
            except OSError:
                continue
            rss += _kb(st, "VmRSS")
            if pid == self.root_pid:
                # the kernel's own high-water mark catches peaks between
                # samples
                rss = max(rss, _kb(st, "VmHWM"))
            elif st.get("Name", "").startswith("python"):
                pythons += 1
        self.peak_rss_kb = max(self.peak_rss_kb, rss)
        # one of the Python processes is the daemon that forks workers
        self.max_workers = max(self.max_workers, pythons - 1)
