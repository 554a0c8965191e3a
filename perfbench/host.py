"""Process-tree and host accounting read straight from /proc.

The engine runs as three kinds of process: the driver Python interpreter,
the JVM it launches, and the Python workers the JVM forks for Arrow UDFs.
CPU time and memory are summed over that whole tree, so a change that moves
work across the Python/JVM boundary still shows in the totals.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after its closing paren
    rp = raw.rfind(")")
    return [raw[raw.find("(") + 1 : rp]] + raw[rp + 2 :].split()


def process_tree(root: int | None = None) -> dict[int, str]:
    """pid -> comm for root and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        pid = int(name)
        comm[pid] = f[0]
        children.setdefault(int(f[2]), []).append(pid)
    tree: dict[int, str] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in comm and pid not in tree:
            tree[pid] = comm[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu() -> dict[str, float]:
    """CPU seconds (utime+stime+cutime+cstime) of the process tree, split
    into the JVM and everything else (driver and worker Python)."""
    jvm = py = 0.0
    for pid, comm in process_tree().items():
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
        ticks = sum(int(f[i]) for i in (12, 13, 14, 15))
        if comm == "java":
            jvm += ticks / CLK_TCK
        else:
            py += ticks / CLK_TCK
    return {"jvm": jvm, "python": py, "total": jvm + py}


def tree_pss_mb() -> float:
    """Proportional set size of the process tree in MB. Forked workers share
    pages with their parent; PSS charges each shared page once in total."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def wait_for_children(timeout_s: float) -> bool:
    """Poll until this process has no live descendants; False on timeout."""
    deadline = time.monotonic() + timeout_s
    while len(process_tree()) > 1:
        if time.monotonic() > deadline:
            return False
        time.sleep(0.2)
    return True


def steal_s() -> float:
    """Host-wide CPU steal so far, in seconds summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


class PeakSampler:
    """Background thread sampling the tree's PSS; `take()` returns the peak
    since the previous call and starts a new window."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._lock = threading.Lock()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def _sample(self) -> None:
        v = tree_pss_mb()
        with self._lock:
            self._peak = max(self._peak, v)

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak


class Meter:
    """Wall, tree CPU and steal across one region of code."""

    def __enter__(self) -> "Meter":
        self.cpu0, self.steal0 = tree_cpu(), steal_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        cpu1 = tree_cpu()
        self.steal = steal_s() - self.steal0
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
