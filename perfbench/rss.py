"""Peak resident memory of the Spark driver JVM plus its Python workers,
sampled from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:          # the process exited while we listed
            continue
        # the command name may hold spaces; fields restart after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith(
            "python")
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root``'s direct children (the JVM) plus every Python
    process below them (pyspark's daemon and its workers).  Other
    descendants are skipped: the JVM spawns short-lived helpers whose
    memory, until they exec, is the JVM's own and would count twice."""
    kids = _children()
    total = 0
    todo = [(pid, True) for pid in kids.get(root, [])]
    while todo:
        pid, direct = todo.pop()
        if direct or _is_python(pid):
            total += _rss_bytes(pid)
        todo.extend((k, False) for k in kids.get(pid, []))
    return total


class PeakRss:
    """Samples ``tree_rss_bytes`` of this process every ``interval``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen.  Use
    as a context manager so the thread is stopped and joined."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20
