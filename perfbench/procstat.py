"""Process-tree CPU and memory from /proc.

The tree is this Python driver, the local-mode JVM it launched, and the
Python daemon and workers the JVM forks. The daemon ignores SIGCHLD, so the
kernel discards a worker's CPU time when it exits: worker CPU is only
visible while the worker lives. ``TreeMeter`` therefore samples the tree
every 20 ms and keeps each process's last reading after it exits; the part of
a worker's last 20 ms that falls after the final sample is missed.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "pyworker")


def _read_stat(pid: int | str) -> tuple[str, int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None  # raced a process exit
    comm = s[s.index("(") + 1 : s.rindex(")")]
    rest = s[s.rindex(")") + 2 :].split()
    return comm, int(rest[1]), rest


def tree_pids(root: int | None = None) -> dict[int, str]:
    """pid -> role ('driver', 'jvm' or 'pyworker') for the tree under ``root``."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is None:
            continue
        comms[int(name)] = st[0]
        children.setdefault(st[1], []).append(int(name))
    roles: dict[int, str] = {root: "driver"}
    # everything the JVM forks (the Python daemon and its workers) is
    # worker-side Python; a launcher between the driver and the JVM counts
    # with the JVM
    stack = [(c, False) for c in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        roles[pid] = "pyworker" if under_jvm else "jvm"
        below = under_jvm or comms.get(pid) == "java"
        stack.extend((c, below) for c in children.get(pid, []))
    return roles


def _cpu_s(pid: int, role: str) -> float | None:
    """utime+stime, plus cutime+cstime of reaped children outside the driver
    (the driver's reaped children are not part of the engine)."""
    st = _read_stat(pid)
    if st is None:
        return None
    rest = st[2]
    ticks = int(rest[11]) + int(rest[12])
    if role != "driver":
        ticks += int(rest[13]) + int(rest[14])
    return ticks / CLK_TCK


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def host_cpu_seconds() -> tuple[float, float]:
    """(busy, steal) CPU seconds of this host since boot (/proc/stat); busy
    excludes idle, iowait and steal."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


class TreeMeter:
    """CPU per role and peak summed RSS of the process tree, sampled in a
    background thread between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.02, rescan_s: float = 1.0, rss_every: int = 5) -> None:
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.rss_every = rss_every
        self.peak_rss = 0
        self._lock = threading.Lock()
        self._first: dict[int, float] = {}
        self._last: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, roles: dict[int, str], with_rss: bool) -> None:
        # workers are forked by the daemon between full rescans
        for daemon in [p for p, r in roles.items() if r == "pyworker"]:
            for child in _children(daemon):
                roles.setdefault(child, "pyworker")
        readings = {}
        for pid, role in list(roles.items()):
            cpu = _cpu_s(pid, role)
            if cpu is None:
                del roles[pid]  # exited: its last reading stands
            else:
                readings[pid] = (role, cpu)
        with self._lock:
            self._last.update(readings)
            if with_rss:
                self.peak_rss = max(self.peak_rss, rss_bytes(readings))

    def _run(self) -> None:
        roles = tree_pids()
        rescanned = time.monotonic()
        tick = 0
        while not self._stop.wait(self.interval_s):
            if time.monotonic() - rescanned > self.rescan_s:
                roles = tree_pids()
                rescanned = time.monotonic()
            tick += 1
            self._sample(roles, tick % self.rss_every == 0)

    def start(self) -> None:
        roles = tree_pids()
        self._first = {}
        for pid, role in roles.items():
            cpu = _cpu_s(pid, role)
            if cpu is not None:
                self._first[pid] = cpu
                self._last[pid] = (role, cpu)
        self.peak_rss = rss_bytes(roles)
        self.host0 = host_cpu_seconds()
        self.wall0 = time.perf_counter()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def snapshot(self) -> dict[str, float]:
        """CPU seconds per role since ``start()``, after a fresh sample."""
        self._sample(tree_pids(), with_rss=True)
        out = dict.fromkeys(ROLES, 0.0)
        with self._lock:
            for pid, (role, cpu) in self._last.items():
                out[role] += cpu - self._first.get(pid, 0.0)
        return out

    def stop(self) -> dict[str, float]:
        """CPU seconds per role over the window, the tree total, and the
        host's other load per wall second: busy CPU outside the tree, and
        hypervisor steal."""
        cpu = self.snapshot()
        busy1, steal1 = host_cpu_seconds()
        wall = time.perf_counter() - self.wall0
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        cpu["tree"] = sum(cpu[r] for r in ROLES)
        cpu["external_cores"] = max(0.0, busy1 - self.host0[0] - cpu["tree"]) / max(wall, 1e-9)
        cpu["steal_cores"] = (steal1 - self.host0[1]) / max(wall, 1e-9)
        return cpu
