"""Host-derived run settings, the Spark session's lifetime, and statistics.

Every run confines its files to a work directory inside the checkout
(``.perfbench_work/``): Spark's local dir, the JVM's and Python's temp dirs,
the warehouse dir, staged inputs and maintained state. The directory is
removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
OUT_ROOT = os.path.join(REPO, ".perfbench_out")

# Engine knobs left at their defaults so the defaults are what gets measured.
UNSET_ENV = ("SPARK_GRAFT_BCAST_FRONTIER_ROWS", "SPARK_GRAFT_MICRO_PARTITIONS")


@dataclass(frozen=True)
class Host:
    cpus: int
    mem_total_mb: int
    driver_memory: str

    @classmethod
    def detect(cls) -> "Host":
        cpus = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        mem_mb = kb // 1024
        # The driver JVM is the whole local cluster; give it 40% of RAM so the
        # Python side, the OS page cache and the shuffle files keep the rest.
        return cls(cpus, mem_mb, f"{max(1, int(mem_mb * 0.4) // 1024)}g")

    def describe(self) -> dict:
        import duckdb
        import pyspark

        return {
            "nproc": self.cpus,
            "mem_total_mb": self.mem_total_mb,
            "spark_driver_memory": self.driver_memory,
            "master": f"local[{self.cpus}]",
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        }


class Session:
    """One SparkSession for the run, confined to ``work``; ``close`` stops it
    and waits for the driver JVM to exit."""

    def __init__(self, host: Host, work: str, app: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # Spark prefers this variable to spark.local.dir when it is set.
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(host.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = host.driver_memory
        for name in UNSET_ENV:
            os.environ.pop(name, None)
        from differential_dataflow_spark import get_spark

        self.spark = get_spark(
            app_name=app,
            cores=host.cpus,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                # Keep every job's and stage's record for the run's counters.
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM plus this process."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0

    def noop_job_ms(self, n: int = 9) -> float:
        """Median wall time of a one-row ``count()``: the per-job floor."""
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).count()
            samples.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(samples)

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # The JVM exits when its stdin closes; wait for it.
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def duckdb_connect(work: str):
    """A DuckDB connection for reference recomputes: two threads, spill
    files inside the run's work directory."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    return con


def make_work_dir(workload: str) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass  # another run's directory is still there


def spans_path(workload: str, seed: int) -> str:
    """Where a traced run writes its spans (JSON lines)."""
    os.makedirs(OUT_ROOT, exist_ok=True)
    return os.path.join(OUT_ROOT, f"spans-{workload}-{seed}.jsonl")

