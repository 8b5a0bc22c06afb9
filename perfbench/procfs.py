"""CPU and resident memory of the benchmark's process tree, from /proc.

The tree is split into three roles:

- ``driver``: the benchmark's own Python process, where the engine's
  driver-side code runs;
- ``jvm``: the Spark JVM that PySpark launches under it;
- ``pyworker``: Python processes under the JVM (the PySpark daemon and
  the workers it forks), including the CPU of workers that already
  exited, which the kernel charges to the daemon's ``cutime``/``cstime``.

Processes in ``exclude`` (the load generator) and their children are
not charged. CPU is utime + stime, so time stolen by other guests on
the host is not counted. The sampler runs inside the driver process;
the CPU its own samples cost (``time.thread_time`` around each one) is
taken off the driver's figure and reported as ``sampler_cpu_s``.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
ROLES = ("driver", "jvm", "pyworker")


def parse_stat(text: str) -> dict:
    """Fields of a ``/proc/<pid>/stat`` line. ``comm`` may hold spaces
    and parentheses, so split at the last ``)``."""
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime is field 14
    return {
        "pid": int(text[:lpar]),
        "comm": text[lpar + 1 : rpar],
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "rss_pages": int(rest[21]),
    }


def read_pss_kb(pid: int, proc: str = "/proc") -> int | None:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so a fork does not count its
    parent's memory twice. None when the process is gone."""
    try:
        with open(os.path.join(proc, str(pid), "smaps_rollup")) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _read_all(proc: str = "/proc") -> dict[int, dict]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                st = parse_stat(fh.read())
        except (OSError, ValueError):
            continue  # exited between listdir and open
        out[st["pid"]] = st
    return out


def classify(stats: dict[int, dict], root: int, exclude: set[int] = frozenset()) -> dict[int, str]:
    """Role of every descendant of ``root``: the root is the driver, a
    process named java is the JVM, and Python processes below the JVM
    are workers. Other helpers (shell wrappers) are charged to the
    driver. Subtrees of ``exclude``, and other processes the JVM
    spawns, are skipped."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    roles: dict[int, str] = {}
    stack = [(root, "driver")]
    while stack:
        pid, inherited = stack.pop()
        if pid in exclude or pid not in stats:
            continue
        comm = stats[pid]["comm"]
        if inherited == "jvm" and not comm.startswith("python"):
            # the JVM spawning a command: until it execs, the child
            # shares the JVM's address space (and carries the name of
            # the JVM thread that spawned it), so counting it would
            # count the JVM twice
            continue
        if pid == root:
            role = "driver"
        elif comm == "java":
            role = "jvm"
        elif inherited in ("jvm", "pyworker") and comm.startswith("python"):
            role = "pyworker"
        else:
            role = inherited
        roles[pid] = role
        stack.extend((c, role) for c in children.get(pid, ()))
    return roles


def tree_totals(
    stats: dict[int, dict], roles: dict[int, str], pss_kb: dict[int, int | None] | None = None
) -> dict[str, float]:
    """CPU seconds and resident MB per role. Memory is the PSS from
    ``pss_kb`` where given, else RSS. Reaped-children CPU counts for
    worker processes only: the driver's reaped children include the
    load generator, which is not the system under test."""
    out = {f"{r}_cpu_s": 0.0 for r in ROLES} | {f"{r}_rss_mb": 0.0 for r in ROLES}
    pss_kb = pss_kb or {}
    for pid, role in roles.items():
        st = stats[pid]
        ticks = st["utime"] + st["stime"]
        if role == "pyworker":
            ticks += st["cutime"] + st["cstime"]
        out[f"{role}_cpu_s"] += ticks / CLK_TCK
        kb = pss_kb.get(pid)
        out[f"{role}_rss_mb"] += (st["rss_pages"] * PAGE_KB if kb is None else kb) / 1024.0
    return out


class TreeSampler:
    """Samples the tree on a background thread. ``sample()`` returns the
    current totals, ``at(t)`` the first sample taken at or after ``t``,
    and ``peaks()`` the highest resident memory seen, per role and for
    the whole tree."""

    def __init__(self, root: int | None = None, interval: float = 0.5):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.exclude: set[int] = set()
        self._lock = threading.Lock()
        self._peak: dict[str, float] = {}
        self._own_cpu_s = 0.0
        self._history: list[tuple[float, dict]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def sample(self) -> dict[str, float]:
        t = time.thread_time()
        stats = _read_all()
        roles = classify(stats, self.root, self.exclude)
        totals = tree_totals(stats, roles, {pid: read_pss_kb(pid) for pid in roles})
        totals["total_rss_mb"] = sum(totals[f"{r}_rss_mb"] for r in ROLES)
        with self._lock:
            # every sample so far, this one included, ran in the driver
            # process: its CPU is the benchmark's, not the program's
            self._own_cpu_s += time.thread_time() - t
            totals["sampler_cpu_s"] = self._own_cpu_s
            totals["driver_cpu_s"] -= self._own_cpu_s
            for k, v in totals.items():
                if k.endswith("_rss_mb"):
                    self._peak[k] = max(self._peak.get(k, 0.0), v)
            self._history.append((time.time(), totals))
        return totals

    def at(self, t: float) -> dict[str, float]:
        """The first sample taken at or after wall time ``t`` (the
        latest one if none was)."""
        with self._lock:
            for when, totals in self._history:
                if when >= t:
                    return totals
            return self._history[-1][1]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peaks(self) -> dict[str, float]:
        self.sample()
        with self._lock:
            return dict(self._peak)


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {r: after[f"{r}_cpu_s"] - before[f"{r}_cpu_s"] for r in ROLES}
