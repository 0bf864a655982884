"""Host-side measurements read from ``/proc``: the benchmark's process
tree (this Python process, the Spark JVM and its Python workers), its
resident memory and CPU time, and the steal time the hypervisor took
from the whole machine."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by n processes
    counts 1/n in each, so a child forked from the JVM (Hadoop shells
    out for some file operations) does not count the heap twice."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped
    children (a Python worker that exited and was waited for moves its
    time into its parent's ``cutime``/``cstime``)."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_s() -> float:
    """Machine-wide steal time since boot, in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class MemorySampler:
    """Background thread that samples the tree's resident memory
    (:func:`tree_pss_bytes`) every ``period`` seconds and keeps the
    peak."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(tree_pids()))

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
