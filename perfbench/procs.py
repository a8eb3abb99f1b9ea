"""Process-tree and host helpers: peak RSS sampling, hypervisor steal,
and clean shutdown.

The benchmark process starts the Spark JVM, which starts the Python worker
daemon and its workers; memory is summed over that whole tree, read from
``/proc``.
"""
from __future__ import annotations

import os
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or ')': ppid follows the last ')'
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(int(name))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s tree. A JVM child that has forked but not
    yet exec'd its helper command (Hadoop's chmod, the Python daemon
    launch) still maps the whole JVM; it is skipped, or one sample would
    count the JVM twice."""
    pids = descendants(root)
    exe = {pid: _exe(pid) for pid in pids}
    total = 0
    for pid in pids:
        if pid != root and exe[pid] and exe[pid].endswith("/java") \
                and exe.get(_ppid(pid)) == exe[pid]:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between listing and reading
    return total


def stolen_s() -> float:
    """Hypervisor steal so far, in seconds per vCPU: time this machine's
    vCPUs were runnable but not running (the ``steal`` column of
    ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        lines = fh.read().splitlines()
    steal = int(lines[0].split()[8])
    vcpus = sum(1 for ln in lines if ln.startswith("cpu") and ln[3].isdigit())
    return steal / os.sysconf("SC_CLK_TCK") / vcpus


class PeakRss:
    """Samples the summed RSS of this process tree every ``interval``
    seconds while the ``with`` block runs; ``peak`` holds the maximum."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def shutdown_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the py4j gateway, and wait until the JVM
    and every process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in others if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
