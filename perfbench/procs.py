"""Process-tree accounting from ``/proc`` (psutil is not available).

The collector under test is this Python process plus everything it
spawns: the JVM (through ``spark-submit``) and the JVM's Python
workers. The load generator and the loopback server are children too,
but they are the load and the remote end, so callers pass their pids
in ``exclude`` and their subtrees are left out of every figure.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int, exclude: set[int] = frozenset()) -> float:
    """User plus system CPU of the tree, including reaped children
    (``cutime``/``cstime``), so a Python worker that exited between two
    readings is still billed through its parent."""
    total = 0
    for pid in tree(root, exclude):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def memory_parts(root: int, exclude: set[int] = frozenset()) -> dict[str, int]:
    """Resident bytes of the tree's ``java`` and ``python`` processes,
    summed per command. Other names are skipped: a child a JVM thread has
    forked but not yet exec'd carries the thread's name and, for a moment,
    the whole JVM's pages."""
    parts: dict[str, int] = {}
    for pid in tree(root, exclude):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if not comm.startswith(("java", "python")):
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        parts[comm] = parts.get(comm, 0) + rss
    return parts


class RssSampler:
    """Background sampler of the tree's resident memory; ``peak`` is the
    largest sum seen, ``cpu_s`` the CPU the sampler thread itself has
    used, for callers to subtract. Use it with ``with``."""

    def __init__(self, root: int, exclude: set[int], period: float = 0.25):
        self.root, self.exclude, self.period = root, exclude, period
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = memory_parts(self.root, self.exclude)
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self.cpu_s = time.thread_time()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_probe_ms(reps: int = 5) -> float:
    """Single-core CPU probe: median wall of a fixed sha256 chain. It
    sits beside every run so host drift shows next to the numbers."""
    walls = []
    block = b"\x5a" * 65536
    for _ in range(reps):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(160):
            h.update(block)
        h.digest()
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls)


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"loadavg": load, "probe_ms": round(host_probe_ms(), 3)}


def reap_tree(root: int, timeout: float = 20.0) -> list[int]:
    """SIGTERM then SIGKILL every descendant still alive, and wait until
    they are gone. Returns the pids that had to be signalled."""
    import signal

    left = [p for p in tree(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout / 2
        while time.time() < deadline:
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not [p for p in tree(root) if p != root]:
                return left
            time.sleep(0.05)
    return left
