"""Process-tree CPU accounting (/proc) — the stall-vs-work instrument.

Wall-clock alone cannot distinguish "this stage stopped scaling because its
work serialized" from "because the host ran out of memory bandwidth / page
faulted": both show sub-linear speedup. CPU-seconds across the driver's whole
process tree (driver + py4j-launched JVM + the PySpark daemon and its forked
python workers) separates them:

- equal CPU at both parallelism levels + sub-linear wall → the extra threads
  waited OFF-cpu (scheduling floors, page-fault/IO, sleeping locks); the job
  did the same work;
- inflated CPU at the higher level → the extra threads spent ON-cpu cycles
  not advancing the job: spin, spill re-work, oversubscription — or
  DRAM-stall cycles, since a memory-bandwidth-stalled thread still accrues
  utime. On a single socket, CPU inflation that appears only at the higher
  thread count and only in memory-traffic-heavy stages is the signature of
  shared-bandwidth contention (the 400k v3 study: L2-blocked signatures
  scale 3.97× with flat CPU; shuffle/numpy-heavy candidates+verify inflate
  ~2× — a real cluster adds a socket with every executor).

``RUSAGE_CHILDREN`` cannot provide this: the JVM is a grandchild the python
process never waits on, so its rusage never rolls up (measured in the r5
200k study, whose CPU column silently counted only the python driver). A
process-GROUP sum cannot either: PySpark's daemon puts every python worker
in a process group of its own, so the tree is walked by parent pid.

Caveat: CPU of processes that exited between two samples is not seen. The
JVM and (reused) python workers live across any window worth measuring, so
deltas are floors within a few percent.
"""

from __future__ import annotations

import os


def proc_group_cpu() -> "float | None":
    """CPU-seconds (utime+stime) of this process and every LIVE descendant,
    found by parent pid — not by process group, which misses the python
    workers.

    Returns None where /proc or sysconf is unavailable (non-Linux)."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        pids = os.listdir("/proc")
    except (OSError, ValueError):
        return None
    children: "dict[int, list[int]]" = {}
    ticks: "dict[int, int]" = {}
    for d in pids:
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                st = f.read().decode("ascii", "replace")
            # fields after the parenthesized comm (which may contain spaces)
            rest = st.rsplit(")", 1)[1].split()
            # rest[1] = ppid, rest[11] = utime, rest[12] = stime
            pid = int(d)
            children.setdefault(int(rest[1]), []).append(pid)
            ticks[pid] = int(rest[11]) + int(rest[12])
        except (OSError, IndexError, ValueError):
            continue  # raced with process exit
    total_ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total_ticks += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total_ticks / hz
