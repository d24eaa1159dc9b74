"""CPU time and resident memory of this process and all its descendants
(the benchmark's Python, the Spark JVM it launches, and the JVM's
Python workers), read from /proc, and a host-speed probe.

CPU counts utime+stime plus the cutime+cstime of reaped children, so a
Python worker that exits between two samples still has its CPU counted
(in its parent's cumulative fields).

Memory counts the Python processes and the JVM only. When the JVM starts
a helper program, the forked child briefly maps the whole JVM heap before
it execs; counting it would double the JVM's RSS in whichever 100 ms
sample happens to catch it."""

from __future__ import annotations

import os
import signal
import threading
import time
import zlib

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after its closing paren
    return (raw[raw.index("(") + 1:raw.rindex(")")],
            raw[raw.rindex(")") + 2:].split())


def tree() -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields after comm) for this process tree."""
    procs, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
                children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def wait_ended(procs: dict[int, tuple[str, list[str]]],
               timeout: float = 30.0) -> list[int]:
    """Wait until every process of ``procs`` (a ``tree()`` snapshot) has
    exited; one that outlives ``timeout`` gets SIGKILL and another
    ``timeout``. A pid counts as the same process while its start time
    (stat field 22) is unchanged; a zombie counts as ended. Returns the
    pids that were killed."""
    def alive() -> list[int]:
        out = []
        for pid, (_, fields) in procs.items():
            st = _stat(str(pid))
            if st is not None and st[1][19] == fields[19] and st[1][0] != "Z":
                out.append(pid)
        return out

    killed: list[int] = []
    for attempt in range(2):
        deadline = time.monotonic() + timeout
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        left = alive()
        if not left or attempt:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
                killed.append(pid)
            except OSError:
                pass
    return killed


def cpu_seconds() -> float:
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    return sum(sum(int(x) for x in f[11:15])
               for _, f in tree().values()) / _TICK


def rss_bytes() -> int:
    procs = tree()

    def counted(comm: str, fields: list[str]) -> bool:
        if comm.startswith("python"):
            return True
        parent = procs.get(int(fields[1]))
        return comm == "java" and (parent is None or parent[0] != "java")

    return sum(int(f[21]) for comm, f in procs.values()  # field 24 = rss
               if counted(comm, f)) * _PAGE


class PeakRss:
    """Context manager sampling the summed RSS in a background thread;
    ``peak`` is the largest sum seen while the context was open."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self.peak = rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes())


def _probe_text() -> bytes:
    """1 MB of fixed word-like text (a fixed LCG, not the run's seed)."""
    x, words = 12345, []
    for _ in range(512):
        x = (x * 1103515245 + 12345) % (1 << 31)
        words.append(bytes(97 + (x >> k) % 26 for k in range(2 + x % 8)))
    out = []
    for _ in range(150_000):
        x = (x * 1103515245 + 12345) % (1 << 31)
        out.append(words[x >> 22])
    return b" ".join(out)


_PROBE_TEXT = _probe_text()


def host_probe(threads: int) -> float:
    """Wall seconds of a fixed CPU load that runs none of the program's
    code: ``threads`` threads each zlib-compress the same 1 MB of text
    twice (zlib releases the GIL, so they run in parallel, like the
    JVM's task threads), then one thread runs a pure-Python loop (like the
    Python workers). On a shared host the speed of a core moves with the
    neighbours' load; this probe moves with it."""
    def compress() -> None:
        for _ in range(2):
            zlib.compress(_PROBE_TEXT, 6)

    t0 = time.perf_counter()
    workers = [threading.Thread(target=compress) for _ in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0
