"""Process-tree memory and host context read from /proc (no psutil)."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every visible process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised; ppid is the second field after it
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        table[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), name)
    return table


def descendants(root: int, table: dict[int, tuple[int, str]]) -> list[int]:
    """root and every process below it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def tree_rss(root: int) -> dict[str, list[int]]:
    """Resident bytes of the driver (``root``), its JVM and the Python
    workers below the JVM: {"driver"|"jvm"|"workers": [processes, bytes]}.

    Other processes are left out on purpose: a helper the JVM spawns
    (chmod through jspawnhelper) shares the JVM's memory until it execs,
    so its RSS would count the JVM twice."""
    table = _process_table()
    below = descendants(root, table)
    jvms = [p for p in below if table.get(p, (0, ""))[1] == "java"]
    jvm = max(jvms, key=_rss, default=None)
    workers = [
        p for p in (descendants(jvm, table)[1:] if jvm else [])
        if table.get(p, (0, ""))[1].startswith("python")
    ]
    return {
        "driver": [1, _rss(root)],
        "jvm": [1 if jvm else 0, _rss(jvm) if jvm else 0],
        "workers": [len(workers), sum(_rss(p) for p in workers)],
    }


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live process below it."""
    table = _process_table()
    total = 0
    for pid in descendants(root, table):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / TICK


def host_cpu_s() -> dict[str, float]:
    """Host-wide CPU seconds by state from /proc/stat: busy (user, nice,
    system, irq, softirq), idle, iowait and steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {
        "busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK,
        "idle": v[3] / TICK,
        "iowait": v[4] / TICK,
        "steal": v[7] / TICK,
    }


class PeakRss:
    """Samples the summed RSS of this process tree (driver Python, JVM,
    Python workers) on a background thread; ``peak`` is the largest sum and
    ``at_peak`` its split by command name."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: dict[str, list[int]] = {}
        self.peak_at_s: float | None = None
        self._t0 = time.monotonic()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            split = tree_rss(me)
            total = sum(b for _, b in split.values())
            if total > self.peak:
                self.peak, self.at_peak = total, split
                self.peak_at_s = time.monotonic() - self._t0
            self._stop.wait(self.INTERVAL_S)


def host_context() -> dict:
    """nproc, load average and the repo's DRAM-stream probe at 2 processes.
    Recorded beside every result; never used to gate one."""
    from scaling_bench import hw_stream_throughput

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    t0 = time.monotonic()
    stream = hw_stream_throughput([2], reps=1)
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "hw_stream_tasks_per_s_n2": stream[2],
        "hw_stream_probe_s": round(time.monotonic() - t0, 3),
    }


def wait_for_children() -> list[int]:
    """Wait up to 30 s until no process below this one is alive; returns
    the stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + 30.0
    while True:
        table = _process_table()
        below = descendants(me, table)[1:]
        for p in below:
            if table[p][0] == me:
                try:  # reap our own exited children
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
        left = [p for p in below if _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
