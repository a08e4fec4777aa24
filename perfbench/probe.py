"""Process-tree CPU and memory, and host contention, read from ``/proc``.

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks.  A sampler thread walks
``/proc`` every ``interval`` seconds and keeps, per process, the highest
cumulative CPU time it has seen (so a worker that exits between two
samples loses at most one interval) and the peak resident memory.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cumulative cpu seconds, rss bytes) for every process."""
    out: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read().decode("ascii", "replace")
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[0] is field 3 of proc(5): ppid=4, utime=14, stime=15, rss=24
        out[int(name)] = (
            int(fields[1]),
            (int(fields[11]) + int(fields[12])) / _TICK,
            int(fields[21]) * _PAGE,
        )
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def box_busy_s() -> float:
    """Busy core-seconds of the whole host since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return (sum(vals) - idle) / _TICK


class TreeSampler:
    """Samples the CPU and RSS of the process tree rooted at ``root``."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self._cpu: dict[int, float] = {}
        self._peak = {"tree": 0, "driver": 0, "jvm": 0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def __enter__(self) -> TreeSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def tree_pids(self) -> set[int]:
        return self._descendants(_proc_table())

    def _descendants(self, table: dict[int, tuple[int, float, int]]) -> set[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        tree, stack = set(), [self.root]
        while stack:
            pid = stack.pop()
            if pid not in tree:
                tree.add(pid)
                stack.extend(kids.get(pid, ()))
        return tree & table.keys()

    def sample(self) -> None:
        table = _proc_table()
        tree = self._descendants(table)
        rss = {
            "tree": sum(table[p][2] for p in tree),
            "driver": table[self.root][2],
            "jvm": sum(table[p][2] for p in tree if _comm(p) == "java"),
        }
        with self._lock:
            for p in tree:
                if table[p][1] > self._cpu.get(p, 0.0):
                    self._cpu[p] = table[p][1]
            for k, v in rss.items():
                self._peak[k] = max(self._peak[k], v)

    def cpu_s(self) -> float:
        """Cumulative CPU seconds of every tree process seen so far."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def reset_peak_rss(self) -> None:
        with self._lock:
            self._peak = dict.fromkeys(self._peak, 0)
        self.sample()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS in MiB since the last reset: of the whole tree, of the
        root (driver) process alone, and of the JVM alone."""
        self.sample()
        with self._lock:
            return {k: v / (1 << 20) for k, v in self._peak.items()}


class Contention:
    """Diagnostic for reading noisy runs: busy cores on the host that this
    process tree did not use, averaged over the span between ``start`` and
    ``stop``.  Not a metric and not a filter."""

    def __init__(self, sampler: TreeSampler):
        self.sampler = sampler

    def start(self, now: float) -> None:
        self._t0, self._box0, self._own0 = now, box_busy_s(), self.sampler.cpu_s()

    def stop(self, now: float, k: int) -> dict:
        wall = max(now - self._t0, 1e-9)
        own = self.sampler.cpu_s() - self._own0
        external = (box_busy_s() - self._box0 - own) / wall
        return {
            "external_busy_cores": round(max(external, 0.0), 3),
            "own_busy_cores": round(own / wall, 3),
            "nproc": len(os.sched_getaffinity(0)),
            "k": k,
            "wall_s": round(wall, 3),
        }
