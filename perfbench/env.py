"""The pinned run environment: one Spark session on ``local[nproc]``,
every file the run writes under one temp dir in the checkout, and the
host and JVM readings printed with every run."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# The driver JVM heap stays well below physical memory (the engine's own
# default is 16g); executors run inside the driver in local mode.
DRIVER_MEM_MB = 4096


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no MemTotal in /proc/meminfo")


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """Owns the run's temp dir, the Spark session and its JVM.

    The environment variables are set before the JVM starts, so the
    JVM and the pandas-UDF workers it spawns inherit them."""

    def __init__(self, tag: str, event_log: bool):
        self.tmp = ROOT / ".perfbench_tmp" / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.tmp, ignore_errors=True)
        (self.tmp / "local").mkdir(parents=True)
        (self.tmp / "work").mkdir()
        self.event_log_dir = self.tmp / "events" if event_log else None
        self.spark = None
        self._proc = None

    def path(self, *parts: str) -> str:
        return str(self.tmp.joinpath("work", *parts))

    def start(self):
        cpus = nproc()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp / "local")
        os.environ["SPARK_DRIVER_MEM"] = f"{DRIVER_MEM_MB}m"
        os.environ["TMPDIR"] = str(self.tmp / "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # -XX:-UsePerfData: HotSpot would otherwise write its counters
        # under /tmp whatever java.io.tmpdir says
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        from gwv_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp / 'local'}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir is not None:
            self.event_log_dir.mkdir()
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._proc = SparkContext._gateway.proc
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def stop(self) -> None:
        """Stop Spark, then the JVM (it exits when its stdin closes), and
        wait for it; Spark's Python workers exit with the JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
            self._proc = None

    def cleanup(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        parent = self.tmp.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def host_info() -> dict:
    return {"nproc": nproc(), "mem_total_mb": round(mem_total_mb(), 1)}
