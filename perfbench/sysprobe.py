"""Host facts read from ``/proc``: the process tree's resident memory, a
host-contention probe, versions, and reaping the processes a run started."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces: fields resume after the last ')'
        out[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> dict[int, int]:
    """``{pid: parent pid}`` of every process below ``root``."""
    parents = _ppid_map()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = parents[pid]
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    Python driver, the JVM and its Python workers) on a background thread;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.at_peak: list[int] = []  # per-process RSS (kB) of the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        # a child the JVM forks to run a command shares the JVM's pages
        # until it execs: counting it would count the heap twice
        exe = {p: _exe(p) for p in [me, *tree]}
        per_pid = {p: _rss_kb(p) for p in [me, *tree]
                   if not (exe[p].endswith("/java") and exe.get(tree.get(p)) == exe[p])}
        total = sum(per_pid.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.at_peak = sorted(per_pid.values(), reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def burn_s(n: int = 1_000_000) -> float:
    """Single-core pure-Python integer loop (no memory traffic): its wall
    time moves only with CPU contention from other tenants.  Recorded next
    to each run, never used to drop one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + i) & 0x7FFFFFFF
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def versions(spark) -> dict:
    java = [
        line for line in subprocess.run(
            ["java", "-version"], capture_output=True, text=True, check=False
        ).stderr.splitlines()
        if not line.startswith("Picked up")
    ]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": java[0] if java else None,
        "python": platform.python_version(),
    }


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    descendant process (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(timeout_s)


def reap(timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:  # collect our own exited children; others are not ours
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
