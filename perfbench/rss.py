"""Peak resident memory of the processes a run starts."""

from __future__ import annotations

import os
import threading


class RssSampler:
    """Peak RSS of this process's descendants (the JVM and its Python
    workers), summed per /proc sample."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_total_mb = 0.0
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2 ** 20

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = workers = 0.0
            for pid, comm in descendants():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        mb = int(f.read().split()[1]) * self._page_mb
                except (OSError, ValueError, IndexError):
                    continue  # exited between listing and reading
                total += mb
                if comm.startswith("python"):
                    workers += mb
            self.peak_total_mb = max(self.peak_total_mb, total)
            self.peak_workers_mb = max(self.peak_workers_mb, workers)
            self._stop.wait(self.interval)


def descendants(root: int | None = None) -> list[tuple[int, str]]:
    """(pid, command name) of every live descendant of ``root`` (this
    process by default)."""
    parent, comm = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may hold spaces
        head, _, tail = stat.rpartition(")")
        parent[int(name)] = int(tail.split()[1])
        comm[int(name)] = head.partition("(")[2]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root or os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append((pid, comm[pid]))
        todo.extend(children.get(pid, []))
    return out
