"""Run hygiene shared by every workload: a private work directory inside
the checkout, the Spark session, memory readings, the environment
record, and a clean shutdown of the JVM."""

from __future__ import annotations

import os
import platform
import re
import shutil
import subprocess
import time

# The Spark JVM's heap ceiling (-Xmx). The heap starts at the JVM's
# default size and grows as the program needs, so peak RSS follows the
# program's memory use.
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: recorded with
    each result, so a slow or contended host shows in the record."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


_GC_AFTER = re.compile(r"->(\d+)([KMG])\(\d+[KMG]\)")


def heap_live_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, from the JVM's
    ``-Xlog:gc`` lines (``... 90M->32M(110M) 7.051ms``): the most live
    data the heap held, whatever the collector's sizing did."""
    scale = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = _GC_AFTER.search(line)
            if m:
                peak = max(peak, float(m.group(1)) * scale[m.group(2)])
    return peak


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def file_census(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Session:
    """The benchmark's SparkSession on ``local[nproc]`` with every
    scratch location inside ``work``."""

    def __init__(self, work: str, app: str) -> None:
        self.work = work
        self.cores = nproc()
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        self.gc_log = os.path.join(tmp, "gc.log")
        os.environ["TMPDIR"] = tmp
        # Takes precedence over spark.local.dir when set.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        t0 = time.perf_counter()
        from stakehouse_etl_spark.session import get_spark

        self.spark = get_spark(
            app_name=app,
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xlog:gc:file={self.gc_log} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
                # Keep job and stage records for the whole run, so traced
                # runs can read every span's counts at the end.
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def reset_caches(self) -> int:
        """Release tracked caches and the SQL cache; returns how many
        tracked caches were still live."""
        from stakehouse_etl_spark import caches

        live = len(caches._tracked())
        caches.release_tracked()
        self.spark.catalog.clearCache()
        return live

    def peak_rss_mb(self) -> float:
        return peak_rss_mb([os.getpid(), self.jvm.pid])

    def heap_live_peak_mb(self) -> float:
        return heap_live_peak_mb(self.gc_log)

    def env(self, load_start: list[float], probe_start: float) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": self.cores,
            "cpu_probe_s_start": probe_start,
            "cpu_probe_s_end": cpu_probe_s(),
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
            "spark": self.spark.version,
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc = self.jvm
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)


def make_work(root: str, name: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work
