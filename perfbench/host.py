"""Host-side measurements of the benchmark's own process tree.

Everything here reads ``/proc`` and ``/dev/shm`` directly, so it
sees the Python driver, the Spark JVM it launches, the JVM's Python
workers and any ``LocalServerPool`` worker processes alike.
"""

from __future__ import annotations

import os
import signal
import threading
import time

SHM_DIR = "/dev/shm"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> float:
    pids = [os.getpid()] + descendants()
    return sum(_pss_kb(p) for p in pids) / 1024.0


def tree_cpu_s() -> float:
    """user+sys CPU seconds of this process and its live descendants
    (a descendant that exits mid-window takes its share with it)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def shm_entries() -> set[str]:
    try:
        return set(os.listdir(SHM_DIR))
    except OSError:
        return set()


class PssSampler:
    """Samples the tree's summed PSS on a background thread; ``peak_mb``
    is the largest sample taken between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-pss")
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
        return self.peak_mb


def reap_descendants(timeout_s: float = 20.0) -> int:
    """Terminate, then kill, whatever is still running below this
    process, and wait until each is gone. Returns how many had to be
    stopped this way (0 when every component shut down cleanly)."""
    left = descendants()
    if not left:
        return 0
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            _reap_zombies()
            if not descendants():
                break
            time.sleep(0.1)
    _reap_zombies()
    return len(left)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
