"""Process memory sampling from /proc and the Spark-free contention probe."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int) -> dict[int, int]:
    """pid -> RSS bytes of the children of ``root`` (for the benchmark's
    own pid, the JVM) and of every Python process below them (the
    workers). Other descendants are skipped: a process the JVM forks to
    run a helper shares the JVM's pages until it execs, and counting it
    would add the JVM's whole RSS a second time."""
    kids = _children()
    top = kids.get(root, [])
    out, stack = {}, list(top)
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            if pid not in top:
                with open(f"/proc/{pid}/comm") as fh:
                    if not fh.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a live process (None once it has ended or is a
    zombie), so a reused pid is not mistaken for the old process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``root``."""
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        started = _start_time(pid)
        if started is not None:
            out.append((pid, started))
    return out


def wait_ended(procs: list[tuple[int, str]], grace_s: float = 20.0) -> None:
    """Wait until each process has ended: SIGTERM those still alive after
    ``grace_s``, SIGKILL those alive ``grace_s`` after that."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid, started in procs:
                if _start_time(pid) == started:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            procs = [(p, s) for p, s in procs if _start_time(p) == s]
            if not procs:
                return
            time.sleep(0.05)


class RssSampler:
    """Background thread recording the peak summed ``tree_rss`` and the
    per-process RSS at that peak."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list[int] = []  # per-process RSS at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(self.root)
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = sorted(rss.values(), reverse=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def probe_rate(seconds: float = 0.5) -> float:
    """Single-thread matmul iterations per second right now: a drop
    between the probes around a run flags other load on the host."""
    import numpy as np

    a = np.random.default_rng(0).random((300, 300))
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        a = a @ a
        a /= np.linalg.norm(a)
        n += 1
    return n / (time.perf_counter() - t0)


def storage_bytes(spark) -> int:
    """Spark storage memory (plus spilled disk) held by cached blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
