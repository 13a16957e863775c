"""CPU time and resident memory of a process tree, read from /proc.

The benchmark process is the root: the Spark JVM is its child and the
Python workers are the JVM's children, so one walk covers the driver, the
JVM and every worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> dict[int, int]:
    """{pid: parent pid} of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out[child] = pid
            todo.append(child)
    return out


def tree_pids(root: int) -> list[int]:
    return list(tree(root))


def cpu_seconds(root: int) -> float:
    """User+system CPU of the live tree, plus what its reaped children used."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat, 1-based
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot.  Steal is time
    the hypervisor ran someone else while this machine had work to do."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:  # exited, or a kernel thread
        return ""


def rss_by_process(root: int) -> dict[str, int]:
    """Resident bytes of the tree, keyed 'driver', 'jvm' or 'workers', plus
    the number of worker processes.  Read from ``statm``, which is cheap
    enough to sample often while the benchmark runs.  A JVM child that has
    not yet exec'd (it shows the JVM's whole resident set, shared with the
    JVM) is skipped."""
    out = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for pid, parent in tree(root).items():
        exe = _exe(pid)
        if exe == "java" and _exe(parent) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:  # exited while being read
            continue
        kind = "driver" if pid == root else "jvm" if exe == "java" else "workers"
        out[kind] += rss
        out["n_workers"] += kind == "workers"
    return out


class RssSampler:
    """Samples the tree's summed RSS on a thread; keeps the peak seen while
    ``active`` is set, and how it split between the processes."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval = root, interval
        self.active = False
        self.peak = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                split = rss_by_process(self.root)
                total = split["driver"] + split["jvm"] + split["workers"]
                if total > self.peak:
                    self.peak, self.peak_split = total, split

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
