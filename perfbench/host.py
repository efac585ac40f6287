"""What a run record says about the host and the process tree."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_heap() -> str:
    """A driver heap that fits the host: a quarter of RAM, at most 4g
    and at least 1g."""
    gib = max(1, min(4, ram_bytes() // (4 * 1024 ** 3)))
    return f"{gib}g"


def load1() -> float:
    return os.getloadavg()[0]


def _ticks() -> int:
    return os.sysconf("SC_CLK_TCK")


def host_busy_s() -> tuple[float, float]:
    """CPU seconds the whole host has been busy since boot, and the
    seconds its hypervisor ran other guests on its CPUs (steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return (user + nice + system + irq + softirq) / _ticks(), steal / _ticks()


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and its live descendants, including the
    children they have reaped."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _ticks()


class Contention:
    """CPU that processes outside this run, and other guests of the
    hypervisor (steal), used while it ran, in cores.  A run counts as
    contended when the two together exceed a quarter of the host's cores,
    or the load at its start exceeded the core count."""

    def __init__(self) -> None:
        self.cores = nproc()
        self.load_start = load1()
        self._t0 = time.perf_counter()
        self._busy0 = host_busy_s()
        self._own0 = tree_cpu_s(os.getpid())

    def finish(self) -> dict:
        """Call while the run's processes are still alive."""
        wall = time.perf_counter() - self._t0
        busy, steal = (b - b0 for b, b0 in zip(host_busy_s(), self._busy0))
        own = tree_cpu_s(os.getpid()) - self._own0
        external = max(0.0, busy - own) / wall
        steal /= wall
        return {
            "load1_start": self.load_start,
            "load1_end": load1(),
            "external_cores": round(external, 3),
            "steal_cores": round(steal, 3),
            "contention": external + steal > 0.25 * self.cores
            or self.load_start > self.cores,
        }


def source_id(root: str, package: str) -> dict:
    """The git head when the checkout is a repository, and always a
    digest of the package sources, which identifies the code either way."""
    head = None
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, package)
    for dirpath, dirnames, names in sorted(os.walk(pkg)):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git_head": head, "source_sha256": h.hexdigest()[:16]}


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in tree.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and the Python workers it starts) and keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def facts(spark, root: str, package: str, heap: str) -> dict:
    return {
        **source_id(root, package),
        "nproc": nproc(),
        "ram_bytes": ram_bytes(),
        "driver_heap": heap,
        "master": spark.sparkContext.master,
        **versions(spark),
        "python_executable": sys.executable,
    }
