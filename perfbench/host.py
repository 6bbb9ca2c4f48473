"""What the operating system reports about this run: process start, CPU
time of the process tree, peak memory, and the CPU time the hypervisor
took away (steal).

On a shared virtual machine the host can withhold the CPUs for part of
the time a thread wants to run.  The guest sees this as steal time in
/proc/stat, and wall-clock timings stretch with it: on a shared 4-vCPU
virtual machine, steal took 0-55% of runnable time from one minute to
the next, and raw latencies of both workloads moved up to 2x with it.
:class:`Meter` records it for every timed interval so that timings can
be reported net of steal (see :func:`perfbench.metrics.steal_shares`).

:func:`stop_spark` ends the JVM and its Python workers and waits for them,
so that no process of a run outlives it.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

from perfbench.metrics import net_of_steal, steal_shares


def process_start_time(fallback: float) -> float:
    """Wall-clock time this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return fallback


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU seconds of this process and every descendant,
    including reaped children."""
    root = root or os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1]
        except OSError:
            continue
        fields = rest.split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    total = 0
    for pid, (_ppid, cpu) in procs.items():
        p = pid
        while p != root and p in procs and p > 1:
            p = procs[p][0]
        if p == root:
            total += cpu
    return total / os.sysconf("SC_CLK_TCK")


def _start_ticks(pid: int) -> int | None:
    """Start time of a live ``pid`` in clock ticks since boot; None once
    it has ended or become a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants(root: int) -> list[tuple[int, int]]:
    """``(pid, start ticks)`` of every live process under ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        start = _start_ticks(pid)
        if start is not None:
            out.append((pid, start))
        todo += children.get(pid, [])
    return out


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    ends first (Linux child subreaper), so that :func:`_wait_gone` can
    reap it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_gone(procs: list[tuple[int, int]], timeout: float) -> None:
    """Wait until every ``(pid, start ticks)`` has ended; SIGTERM what is
    left after ``timeout``, SIGKILL what is left after twice that."""
    t0, sent = time.monotonic(), None
    while True:
        _reap()
        procs = [(p, s) for p, s in procs if _start_ticks(p) == s]
        if not procs:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > 2 * timeout else
               signal.SIGTERM if waited > timeout else None)
        if sig is not None and sig != sent:
            for p, _s in procs:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            sent = sig
        time.sleep(0.05)


def stop_spark(spark=None, timeout: float = 30.0) -> None:
    """Stop the Spark session, end the JVM that PySpark started and every
    process under it (Python workers), and wait until each has ended.

    ``spark.stop()`` leaves the JVM running until it reads end of file on
    its standard input, which would otherwise only happen when this
    process exits, with nobody waiting for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if proc is not None:
            under = descendants(proc.pid)
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            _wait_gone(under, timeout)
            SparkContext._gateway = SparkContext._jvm = None


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Meter:
    """Wall clock, CPU time of the process tree, and steal over one
    interval: create at the start, call :meth:`stop` at the end."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.j0 = cpu_jiffies()
        self.c0 = tree_cpu_seconds()

    def stop(self) -> "Meter":
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_seconds() - self.c0
        self.steal, self.steal_of_all = steal_shares(self.j0, cpu_jiffies())
        return self

    @property
    def net(self) -> float:
        """Factor that turns a wall-clock time in this interval into the
        time net of steal."""
        return net_of_steal(self.steal)

    def record(self) -> dict:
        return {"wall_s": self.wall, "cpu_s": self.cpu,
                "steal_of_runnable": self.steal,
                "steal_of_all": self.steal_of_all}
