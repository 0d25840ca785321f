"""Unit pin for bench._proc_group_cpu — the measurement the scaling
report's CPU column makes its stall-vs-work argument with (r5: replaced a
RUSAGE_CHILDREN delta that could not see the JVM grandchild). No Spark
session needed: the property under test is "live process-tree CPU is
captured, and burning CPU in this process or a descendant moves the reading
by about the burned amount"."""

import os
import subprocess
import sys
import time

import bench


def test_proc_group_cpu_returns_positive_float():
    got = bench._proc_group_cpu()
    assert isinstance(got, float)
    assert got > 0.0  # this very test process has burned some CPU


def test_proc_group_cpu_sees_own_burn():
    before = bench._proc_group_cpu()
    t0 = time.process_time()
    x = 0
    while time.process_time() - t0 < 0.6:  # burn ~0.6 CPU-seconds
        x += 1
    burned = time.process_time() - t0
    delta = bench._proc_group_cpu() - before
    # delta includes any sibling activity in the group, so it is a lower
    # bound modulo clock-tick granularity (1/HZ)
    assert delta >= burned - 0.1, (before, delta, burned)


def test_proc_group_cpu_sees_child_in_own_process_group():
    """PySpark's daemon puts each python worker in a process group of its
    own; the reading must still include such a descendant's CPU."""
    child = (
        "import os, time\n"
        "os.setpgid(0, 0)\n"
        "t0 = time.process_time()\n"
        "while time.process_time() - t0 < 0.5:\n"
        "    pass\n"
        "print(time.process_time(), flush=True)\n"
        "time.sleep(60)\n"
    )
    before = bench._proc_group_cpu()
    proc = subprocess.Popen([sys.executable, "-c", child], stdout=subprocess.PIPE,
                            text=True)
    try:
        burned = float(proc.stdout.readline())  # child is alive, sleeping
        assert os.getpgid(proc.pid) != os.getpgid(0)
        delta = bench._proc_group_cpu() - before
    finally:
        proc.kill()
        proc.wait(timeout=10)
        proc.stdout.close()
    assert delta >= burned - 0.1, (before, delta, burned)


def test_default_cpus_honors_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert bench._default_cpus() == 7


def test_default_cpus_halves_hardware_threads(monkeypatch):
    # unset env → half the visible cores (each Python-UDF task occupies a
    # JVM thread AND a python worker process), floored at 4
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = max(4, (os.cpu_count() or 16) // 2)
    assert bench._default_cpus() == want
