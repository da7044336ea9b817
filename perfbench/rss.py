"""Memory of a process tree, read from ``/proc``.

Each process counts its proportional set size (PSS): pages shared between
processes, such as those Spark's forked Python workers share with their
daemon, are split between them instead of counted once per process.
"""

from __future__ import annotations

import os
import threading

def tree_pss_bytes(root: int) -> dict[str, int]:
    """PSS of the tree under ``root``, summed per command name."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it don't
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        names[int(name)] = stat[stat.find(b"(") + 1:stat.rfind(b")")].decode(errors="replace")
    tree, todo = {root}, [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            if child not in tree:
                tree.add(child)
                todo.append(child)
    out: dict[str, int] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        cmd = names.get(pid, "?")
                        out[cmd] = out.get(cmd, 0) + int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the tree under this process every ``interval`` seconds
    until :meth:`stop`; ``peak_mb`` is the largest sum seen, ``peak_parts_mb``
    that sample per command name (``java``, ``python3``, ...)."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while True:
            parts = tree_pss_bytes(me)
            if sum(parts.values()) > self.peak_bytes:
                self.peak_bytes, self.peak_parts = sum(parts.values()), parts
            if self._stop.wait(self.interval):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def peak_parts_mb(self) -> dict[str, float]:
        return {k: round(v / 2**20, 1) for k, v in self.peak_parts.items()}
