"""Host sizing for the product Spark session, and peak memory and
per-operation interference from /proc.

The benchmark runs the engine on ``session.get_spark`` at
``local[<cpus>]``. Everything host-dependent is passed in through the
environment and ``get_spark`` arguments, so the session code itself is
the one users run:

- ``SPARK_GRAFT_CPUS``: the CPUs this process may run on (``nproc``);
- ``SPARK_DRIVER_MEMORY``: a quarter of physical memory, capped at 8g —
  the session's 48g default does not fit a small host;
- ``SPARK_LOCAL_DIRS`` and ``TMPDIR``: inside the benchmark's work
  directory, so a run writes only inside its checkout. Without it the
  session puts shuffle and spill files on ``/dev/shm``, because its
  comment records a disk that wrote at 16 MB/s. On the 4-CPU baseline
  host the checkout's disk writes at about 1.2 GB/s, and alternating
  runs with the local dirs on ``/dev/shm`` were no faster (BASELINE.md,
  "Session");
- ``PYTHONPATH``: the checkout root, so Python workers import
  ``zuliasearch_spark`` wherever the run starts.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    gib = mem_total_bytes() // (1 << 30)
    return f"{max(1, min(8, gib // 4))}g"


def configure_env(root: str, work: str) -> dict[str, str]:
    """Export the session sizing for this host; returns what was set."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root + (os.pathsep + pypath if pypath else ""),
    }
    os.environ.update(env)
    return env


def session_extra(work: str) -> dict[str, str]:
    """``get_spark(extra=...)`` entries that keep JVM scratch files in
    the work directory."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss(pid: int) -> tuple[int, int, int]:
    """(total, JVM, process count): resident bytes of every process
    below ``pid`` (the JVM and its Python worker daemon and workers),
    not counting ``pid`` itself."""
    kids = _children()
    total = jvm = n = 0
    stack = list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
        total += rss
        n += 1
        if p in kids.get(pid, ()):  # the driver's child is the JVM
            jvm = max(jvm, rss)
    return total, jvm, n


class PeakRss:
    """Samples the engine processes' summed RSS on a background thread
    and keeps the peak. Use as a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # at the peak: the JVM's share and how many processes there were
        self.peak_jvm_bytes = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            total, jvm, n = descendants_rss(pid)
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_jvm_bytes, self.peak_procs = total, jvm, n
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def _tree_ticks(pid: int) -> int:
    """CPU ticks (user + system, own and reaped children's) of ``pid``
    and every process below it: the driver, the JVM, the Python worker
    daemon and its workers."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        f = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(f[1]), []).append(int(name))
        ticks[int(name)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, ()))
        total += ticks.get(p, 0)
    return total


class Interference:
    """How much of the host's CPU went to anything but this benchmark
    while an operation ran: hypervisor steal plus the busy time of
    processes outside this process tree, as a share of all CPU time in
    the window. ``mark()`` before and after the operation (outside its
    timing), then ``share(before, after)``.

    /proc/stat counts in ticks of 10 ms over all CPUs, so on 4 CPUs a
    one-second operation has 400 ticks to share out."""

    def __init__(self):
        self.pid = os.getpid()

    def mark(self) -> tuple[int, int, int]:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        busy = sum(f) - f[3] - f[4]  # all but idle and iowait; steal included
        return sum(f), busy, _tree_ticks(self.pid)

    @staticmethod
    def share(before, after) -> float:
        (all0, busy0, own0), (all1, busy1, own1) = before, after
        if all1 <= all0:
            return 0.0
        return max(0, (busy1 - busy0) - (own1 - own0)) / (all1 - all0)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs from /proc/stat; steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums excluded)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dp, f))
    return total


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers go with it."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
