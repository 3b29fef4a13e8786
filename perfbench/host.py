"""Host-honest Spark settings, the run fingerprint and the RSS sampler.

Everything here reads the machine the benchmark runs on: the CPU
affinity mask for the core count, ``/proc/meminfo`` for the driver heap
and ``/proc`` for the resident memory of the driver process tree.
"""

from __future__ import annotations

import os
import subprocess
import threading

HEAP_SHARE = 0.25          # driver heap as a share of MemTotal
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 6144


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    heap = int(mem_mb * HEAP_SHARE) // 256 * 256
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, heap))


def spark_conf(work_dir: str, heap_mb: int) -> dict[str, str]:
    """Settings the benchmark process passes to ``get_spark``: scratch
    space inside ``work_dir``, so nothing is written outside the
    checkout, and a heap sized from this host's memory."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.driver.memory": f"{heap_mb}m",
        # The whole heap is committed and touched at launch: a growing
        # heap made the first warm passes up to 2x slower than later ones,
        # and RSS tracked how much of the heap G1 had touched so far.  A
        # fixed set of JIT compiler threads, so that work_cpu_s leaves out
        # all of their time.  No hsperfdata file under /tmp either.
        "spark.driver.extraJavaOptions": (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                                          "-XX:-UseDynamicNumberOfCompilerThreads "
                                          f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def fingerprint(spark, cores: int, heap_mb: int, seed: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": usable_cores(),
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "cores": cores,
        "heap_mb": heap_mb,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "seed": seed,
    }


def _tree_stats(root: int) -> dict[int, list[str]]:
    """pid → the ``/proc/<pid>/stat`` fields after the command name, for
    ``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended while scanning
        # the command name may hold spaces; fields after ')' are fixed
        fields = stat.rsplit(")", 1)[1].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def _tree_rss_bytes(root: int, page: int) -> int:
    # stat field 24, rss in pages, is the 22nd after the command name
    return sum(int(f[21]) for f in _tree_stats(root).values()) * page


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this guest since boot, from
    ``/proc/stat``: steal is time the hypervisor ran other guests while
    this one had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")   # thread names, cut to 15 chars


def work_cpu_s() -> float:
    """User + system CPU seconds of this process and every process below
    it (the JVM and the Python workers), reaped children included, less
    the JVM's JIT compiler threads, which keep compiling through the
    whole run at a rate that depends on how far the warm-up has got.
    Time the hypervisor gives to other guests is not in it."""
    stats = _tree_stats(os.getpid())
    # utime, stime, cutime, cstime: stat fields 14-17
    ticks = sum(int(x) for f in stats.values() for x in f[11:15])
    for pid in stats:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().strip() not in JIT_THREADS:
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks -= int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread;
    ``peak_mb`` is the highest sum seen while running."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root, page))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

