"""Host shape, session sizing and the process-tree RSS sampler (/proc only)."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
MAX_CORES = 4  # small and fixed: the host is shared, and runs must compare


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def shape() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": _meminfo_mb()}


def session_conf(work: str) -> dict:
    """Master, shuffle partitions and driver heap, from nproc and MemTotal.

    Identical on every run of one host; never the package's 32-core or
    48g defaults.
    """
    # one core stays free for the driver, the GC and the sampler
    cores = max(1, min(shape()["nproc"] - 1, MAX_CORES))
    heap_mb = max(1024, min(_meminfo_mb() // 8, 2048))
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": 2 * cores,
        "extra_conf": {
            "spark.driver.memory": f"{heap_mb}m",
            # -Xms = heap: the heap never grows mid-run, so GC cost and RSS
            # do not depend on when the JVM decided to expand it
            "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _ppids() -> dict[int, int]:
    out = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parens: the fields after the last ')' are fixed
        out[int(e)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its descendants (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_mb(pids: list[int]) -> list[float]:
    """Resident MiB of each pid still alive."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out.append(int(fh.read().split()[1]) * PAGE / 2**20)
        except OSError:
            continue
    return out


class RssSampler:
    """Background thread: peak of the summed RSS of this process's tree.

    The peak counts a level only when two consecutive samples reach it.
    While a process spawns a child, the child shares its parent's memory
    until it execs, and a sample taken in that instant counts the parent
    (the 2 GB JVM) twice; such a spike never lasts for two samples.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_largest_mb = 0.0  # the largest single process (the JVM)
        self.samples = 0
        self._prev = (0.0, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.sample(root)
            self._stop.wait(self.interval_s)

    def sample(self, root: int) -> None:
        each = rss_mb(tree(root))
        cur = (sum(each), max(each))
        self.peak_mb = max(self.peak_mb, min(cur[0], self._prev[0]))
        self.peak_largest_mb = max(self.peak_largest_mb, min(cur[1], self._prev[1]))
        self._prev = cur
        self.samples += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample(os.getpid())


def reap(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, the stragglers.

    Returns the pids still alive at the end (empty on success).
    """
    def alive() -> list[int]:
        out = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat", "rb") as fh:
                    state = fh.read().rsplit(b")", 1)[1].split()[0]
            except OSError:
                continue
            if state != b"Z":
                out.append(p)
        return out

    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        step_end = min(deadline, time.monotonic() + timeout_s / 3)
        while alive() and time.monotonic() < step_end:
            time.sleep(0.1)
        if not alive():
            return []
    return alive()
