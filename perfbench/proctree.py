"""This process and its descendants (the JVM and its Python workers), as
/proc shows them: summed CPU time and resident memory."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int, float]]:
    """pid -> (ppid, rss kB, cpu s of the process and its reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as fh:
                rss_pages = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
        out[int(d)] = (int(fields[1]), rss_pages * os.sysconf("SC_PAGE_SIZE") // 1024, cpu)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else _table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(children.get(p, []))
    return found


def cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree under `root` (default: this
    process).  Workers that exit are counted through their parent once
    reaped."""
    table = _table()
    return sum(table[p][2] for p in descendants(root or os.getpid(), table) if p in table)


def rss_kb(root: int | None = None) -> int:
    table = _table()
    return sum(table[p][1] for p in descendants(root or os.getpid(), table) if p in table)


class RssPeak:
    """Peak summed RSS of the tree, sampled every `interval` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, rss_kb())
            self._stop.wait(self.interval)
