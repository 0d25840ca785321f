"""CPU and memory of a whole process tree, read from /proc.

PySpark's daemon puts every Python worker in a process group of its own, so
a process-group CPU count misses the workers. This sampler instead walks
parent pids from a root process (the benchmark's driver) down to the JVM,
the PySpark daemon and its workers. It keeps each process's last-seen CPU
ticks, so a worker that exits between two samples still counts with what it
had burned when last seen, and it splits the total into three layers:

- ``driver``: the root process itself (the Python driver);
- ``jvm``: any ``java`` process in the tree;
- ``pyworker``: everything else, i.e. the PySpark daemon and its workers.

Peak memory is the sum over the tree's processes of each one's resident-set
high-water mark (``VmHWM``), which the kernel keeps, so a short spike in a
worker is never missed between samples. ``reset_peak`` restarts the marks.
"""

from __future__ import annotations

import os
import threading
import time

LAYERS = ("driver", "jvm", "pyworker")

_HZ = os.sysconf("SC_CLK_TCK")


def _read_stats() -> "dict[int, tuple]":
    """pid -> (comm, state, ppid, cpu ticks, starttime) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                st = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited while listing
        head, _, tail = st.rpartition(")")
        rest = tail.split()
        # rest[0]=state, rest[1]=ppid, rest[11]=utime, rest[12]=stime,
        # rest[19]=starttime (proc(5) fields 3, 4, 14, 15, 22)
        out[int(d)] = (head.partition("(")[2], rest[0], int(rest[1]),
                       int(rest[11]) + int(rest[12]), int(rest[19]))
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0  # exited, or a kernel thread


class ProcTree:
    """Background sampler of one process tree; use as a context manager."""

    def __init__(self, root_pid: "int | None" = None, interval_s: float = 0.1):
        self.root = root_pid or os.getpid()
        self.interval_s = interval_s
        self._lock = threading.Lock()
        # keys are (pid, starttime), so a recycled pid is a new process
        self._ticks: "dict[tuple[int, int], tuple[str, int]]" = {}
        self._hwm: "dict[tuple[int, int], tuple[str, int]]" = {}
        self._live: "set[tuple[int, int]]" = set()
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None

    def sample(self) -> None:
        stats = _read_stats()
        children: "dict[int, list[int]]" = {}
        for pid, s in stats.items():
            children.setdefault(s[2], []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
                todo.extend(children.get(pid, ()))
        seen = []
        for pid in tree:
            comm, _state, _ppid, ticks, start = stats[pid]
            if pid == self.root:
                layer = "driver"
            elif comm == "java":
                layer = "jvm"
            else:
                layer = "pyworker"
            seen.append(((pid, start), layer, ticks, _hwm_bytes(pid)))
        with self._lock:
            for key, layer, ticks, hwm in seen:
                self._ticks[key] = (layer, ticks)
                if hwm:
                    self._hwm[key] = (layer, hwm)
            self._live = {key for key, *_ in seen}

    def cpu(self) -> "dict[str, float]":
        """CPU-seconds per layer since the tree was first seen, sampled now."""
        self.sample()
        out = dict.fromkeys(LAYERS, 0.0)
        with self._lock:
            for layer, ticks in self._ticks.values():
                out[layer] += ticks / _HZ
        return out

    def peak_rss(self) -> "dict[str, int]":
        """Summed resident-set high-water marks per layer since ``reset_peak``."""
        self.sample()
        out = dict.fromkeys(LAYERS, 0)
        with self._lock:
            for layer, hwm in self._hwm.values():
                out[layer] += hwm
        return out

    def reset_peak(self) -> None:
        self.sample()
        with self._lock:
            live = set(self._live)
            self._hwm.clear()
        for pid, _start in live:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # 5 = reset the peak RSS to the current RSS
            except OSError:
                pass  # exited meanwhile
        self.sample()

    def live_descendants(self) -> "set[tuple[int, int]]":
        self.sample()
        with self._lock:
            return {k for k in self._live if k[0] != self.root}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "ProcTree":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="proctree",
                                        daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_delta(a: "dict[str, float]", b: "dict[str, float]") -> "dict[str, float]":
    """Per-layer CPU burned between two ``ProcTree.cpu()`` readings."""
    return {k: b[k] - a[k] for k in LAYERS}


def wait_gone(procs: "set[tuple[int, int]]", timeout_s: float) -> "set[tuple[int, int]]":
    """Wait until the given (pid, starttime) processes have ended (exited or
    zombie); returns those still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        stats = _read_stats()
        alive = {k for k in procs
                 if k[0] in stats and stats[k[0]][4] == k[1] and stats[k[0]][1] != "Z"}
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)
