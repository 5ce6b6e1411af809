"""Process-tree accounting read from /proc: CPU seconds, peak resident
memory, leftover Spark processes, and a fixed CPU calibration probe."""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
# command-line arguments of a Spark driver JVM and of PySpark's worker
# daemon; matched against whole arguments, so a shell command that merely
# mentions them does not count
SPARK_MARKERS = (b"org.apache.spark.deploy.SparkSubmit", b"pyspark.daemon")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of the live
    process tree: this Python process, the Spark JVM and the Python
    workers."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def reset_peak_rss() -> None:
    """Restart every tree process's peak-RSS counter (VmHWM) from its
    current resident size."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # process exited meanwhile


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def foreign_spark_pids() -> list[int]:
    """Spark JVMs / PySpark worker daemons alive outside this process tree."""
    mine = set(tree())
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if any(m in cmd.split(b"\0") for m in SPARK_MARKERS):
            out.append(int(name))
    return out


def wait_children_exit(timeout_s: float) -> list[int]:
    """Wait until this process has no live descendants; return the ones
    still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree() if p != os.getpid()]
        # reap exited children so they leave the tree
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def calib_s(rounds: int = 5) -> float:
    """Median seconds of a fixed single-thread CPU probe (chained MD5 over
    a 64 KiB buffer), independent of the program: it tells host drift from
    program drift."""
    buf = bytes(range(256)) * 256
    samples = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = b""
        for _ in range(400):
            h = hashlib.md5(h + buf).digest()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)[rounds // 2]
