"""Process-tree memory sampling and run metadata, read from ``/proc``."""

from __future__ import annotations

import os
import platform
import sys
import threading


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_by_name(pids) -> dict[str, int]:
    """Proportional set size (RSS with each shared page split among the
    processes sharing it) of the given processes, summed per command
    name. A process the JVM forks holds copy-on-write pages of the JVM;
    PSS counts those once, RSS would count them twice."""
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0) + pss
    return out


class RssSampler:
    """Samples the memory (PSS) of this process and all its descendants
    (the JVM and its Python workers) every ``interval`` seconds, leaving
    out the processes in ``exclude`` and their descendants; ``peak`` is
    the largest sum seen and ``peak_by_name`` its split by command name.
    The process tree is re-read every tenth sample."""

    def __init__(self, interval: float = 0.1, exclude=()):
        self.interval = interval
        self.exclude = set(exclude)
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _pids(self) -> list[int]:
        skip = set()
        for pid in self.exclude:
            skip.update(descendants(pid))
        return [p for p in descendants(os.getpid()) if p not in skip]

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = self._pids()
            by_name = pss_by_name(pids)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def other_spark_jvms() -> int:
    """Spark JVMs on this machine that this process did not start."""
    mine = set(descendants(os.getpid()))
    n = 0
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def foreground() -> str:
    """'foreground' / 'background' relative to the controlling
    terminal, or 'no-tty' when there is none (e.g. a pipeline)."""
    try:
        fd = os.open("/dev/tty", os.O_RDONLY)
    except OSError:
        return "no-tty"
    try:
        return "foreground" if os.tcgetpgrp(fd) == os.getpgrp() else "background"
    except OSError:
        return "no-tty"
    finally:
        os.close(fd)


def git_commit(root: str) -> str:
    """HEAD of the checkout's git repository, or 'unknown'."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def metadata(spark, root: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "nice": os.nice(0),
        "tty": foreground(),
        "argv": sys.argv[1:],
    }
