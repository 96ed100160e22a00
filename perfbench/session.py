"""One Spark session per run, sized for the host, writing only under ``workdir``."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb(cap_mb: int = 2048) -> int:
    """A quarter of physical memory, between 1 GiB and ``cap_mb``. Local mode
    runs every executor thread inside this heap; the Python workers live
    outside it."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(cap_mb, total_kb // 1024 // 4))


def start(workdir: Path, *, event_log: bool = False, heap_cap_mb: int = 2048):
    """A fresh local[nproc] session. Python workers import ``rastr_spark`` from
    the checkout through PYTHONPATH; scratch, shuffle and warehouse files go
    under ``workdir``."""
    for sub in ("local", "tmp", "warehouse", "events"):
        (workdir / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), path) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own launcher JVM
    tempfile.tempdir = None  # re-read TMPDIR: an earlier session's dir may be gone

    from pyspark.sql import SparkSession

    n = cores()
    heap = driver_heap_mb(heap_cap_mb)
    # The heap is committed and touched at start: with a heap that grows on
    # demand, or one whose pages are touched as G1 happens to use them, the
    # JVM's peak RSS follows GC timing and spread by 10-60 % from run to run.
    # No hsperfdata file: it would be written to /tmp, outside the checkout.
    java_opts = f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={workdir / 'tmp'}"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("rastr-perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(workdir / "local"))
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", (workdir / "events").as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from . import procfs

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # Python workers are re-parented when the JVM exits, so remember them now
    started = procfs.descendants()
    spark.stop()
    gateway.shutdown()
    # let a later session in this process launch a new JVM
    type(spark.sparkContext)._gateway = None
    type(spark.sparkContext)._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive() -> list[int]:
        """Started processes still running; a zombie has ended."""
        out = []
        for p in started:
            try:
                with open(f"/proc/{p}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except (FileNotFoundError, ProcessLookupError):
                continue
            if state != "Z":
                out.append(p)
        return out

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
