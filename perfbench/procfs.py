"""Process-tree readings from ``/proc``: summed RSS and CPU time.

``psutil`` is not available, so this reads ``/proc/<pid>/stat``
directly. CPU time includes ``cutime``/``cstime``: the CPU of children
a process has already reaped. The PySpark daemon forks one worker per
task set and reaps it, so a worker that ran and exited between two
readings is still counted, in its parent's total.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after ppid) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    close = s.rfind(")")
    rest = s[close + 2 :].split()
    return s[s.find("(") + 1 : close], int(rest[1]), rest


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[1], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` and of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    rest = st[2]
    return sum(int(rest[i]) for i in (11, 12, 13, 14)) / _TICK


def rss_mb(pid: int) -> float:
    st = _stat(pid)
    return int(st[2][21]) * _PAGE / 2**20 if st is not None else 0.0


def tree_rss_mb(root: int, skip: str = "") -> float:
    """Summed RSS of the Python and Java processes in ``root``'s tree (the
    driver, the JVM, the PySpark daemon and its workers), leaving out
    those whose command line contains ``skip``.

    Other processes are short-lived shell-outs (Hadoop runs ``readlink``
    and the like). Between fork and exec such a child still maps the
    whole JVM image, so counting it would add the JVM's RSS a second
    time whenever a sample lands in that window."""
    total = 0.0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None or not (st[0] == "java" or st[0].startswith("python")):
            continue
        if skip and skip in cmdline(pid):
            continue
        total += rss_mb(pid)
    return total


def python_cpu_s(root: int) -> float:
    """CPU of the Python processes below ``root`` (the JVM): the PySpark
    daemon and its workers, reaped workers included."""
    return sum(
        cpu_s(pid)
        for pid in descendants(root)[1:]
        if (_stat(pid) or ("",))[0].startswith("python")
    )


def java_child(pid: int) -> int | None:
    """The JVM that a PySpark driver process launched."""
    for child in descendants(pid)[1:]:
        st = _stat(child)
        if st is not None and st[0] == "java":
            return child
    return None


class PeakRss:
    """Samples a process tree's summed RSS on a background thread and
    keeps the peak."""

    def __init__(self, root: int, skip: str = "", interval_s: float = 0.1):
        self.root, self.skip, self.interval_s = root, skip, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root, self.skip))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
