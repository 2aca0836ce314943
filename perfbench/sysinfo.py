"""Process memory, CPU drift probe and the run's environment record."""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import time


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits (such as the shell that the Spark launcher script
    leaves behind as the JVM's unreaped child) becomes this process's child,
    so that ``end_children`` can wait for it. Linux only; a no-op elsewhere."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def end_children(timeout: float = 30.0) -> None:
    """Wait until every process started under this one has ended, reaping
    each; kill those still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for c in descendants(os.getpid()):
                try:
                    os.kill(c, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _read(pid: int, name: str) -> str:
    try:
        with open(f"/proc/{pid}/{name}", "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if it is gone."""
    for line in _read(pid, "status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def python_workers(pid: int) -> list[int]:
    """PySpark daemon and worker processes started (via the JVM) by pid."""
    return [
        c for c in descendants(pid)
        if "pyspark.daemon" in _read(c, "cmdline").replace("\0", " ")
        or "pyspark.worker" in _read(c, "cmdline").replace("\0", " ")
    ]


def jvms(pid: int) -> list[int]:
    return [c for c in descendants(pid) if _read(c, "comm").strip() == "java"]


def driver_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_probe(seconds: float = 0.25) -> float:
    """Single-thread integer-work units per second, a Spark-free detector of
    CPU steal by other tenants (same loop as the repo's bench.py)."""
    end = time.time() + seconds
    units = 0
    x = 0
    while time.time() < end:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        units += 1
    return round(units / seconds, 1)


def environment(spark) -> dict:
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark.driver.memory": conf.get("spark.driver.memory", "1g"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
