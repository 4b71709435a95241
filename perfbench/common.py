"""Shared plumbing: work directories, the Spark session, process cleanup
and the result line.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "security_log_analysis_rust_spark"

#: the program must be present in the checkout; the benchmark ships none
REQUIRED = (os.path.join(ROOT, PACKAGE, "__init__.py"), os.path.join(ROOT, "__spark_entry__.py"))

AS_OF = "2024-12-31"


def program_present() -> bool:
    return all(os.path.isfile(p) for p in REQUIRED)


def work(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    os.makedirs(p, exist_ok=True)
    return p


def fresh_dir(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    return p


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Pin what the environment could change, before pyspark is imported:
    data, temp and spill directories inside the checkout, and no session
    overrides from the caller's environment."""
    os.environ["SPARK_GRAFT_DATA_DIR"] = work("data")
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir("spark-local")
    tmp = fresh_dir("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM",
                "SYSTEMD_LOG_FILTERS", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(event_log_dir: str | None = None):
    """The session as ``cli._spark`` builds it (``local[nproc]``, default
    shuffle partitions), without the console progress bar and, when
    tracing, with an uncompressed single-file event log."""
    from security_log_analysis_rust_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="security-log-analysis", cpus=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def driver_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Clock:
    """Wall-clock stopwatch over ``time.perf_counter``; also tracks the
    share of CPU time the hypervisor stole meanwhile, which explains
    outlying runs on a shared host."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = _cpu_ticks()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def steal_share(self) -> float:
        steal, total = _cpu_ticks()
        return (steal - self.ticks0[0]) / max(1, total - self.ticks0[1])


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result: the last line of standard output."""
    sys.stdout.flush()
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }), flush=True)


def note(obj) -> None:
    """A human-readable line ahead of the result line."""
    print(json.dumps(obj, default=str), flush=True)
