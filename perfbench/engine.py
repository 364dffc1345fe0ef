"""Session lifecycle for the benchmark: pinned environment, a live session
from the engine's own factory, clean JVM shutdown and the JVM's peak RSS.

The tables, feeds, checkpoints and the JVM's temp directory live under
``<checkout>/.perfbench_work``, on the checkout's own file system. Spark's
shuffle and spill directory is wherever ``session.get_spark`` puts it for
every caller: ``/dev/shm/spark-local`` (tmpfs) when ``/dev/shm`` is
writable, Spark's default under the JVM temp directory otherwise. Spark
removes its block-manager directories there when the session stops."""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# Fixed heap, committed at start (-Xms = -Xmx): a heap derived from free
# memory, or grown on demand, lets GC heuristics move the driver's peak RSS
# by a quarter from run to run on an unchanged program.
DRIVER_MEM = "3g"


def cpus() -> int:
    """local[nproc]: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


def check_checkout() -> None:
    """Refuse to run without the engine next to the benchmark (e.g. in a
    directory holding only the benchmark's own files)."""
    if not os.path.isfile(os.path.join(ROOT, "data_sync_spark", "__init__.py")):
        sys.stderr.write(
            f"perfbench: no data_sync_spark package under {ROOT}; run from a "
            "checkout of the repository\n"
        )
        raise SystemExit(2)


def pin_env(tag: str) -> str:
    """Pin the session environment before pyspark is imported; returns this
    process's scratch directory."""
    scratch = os.path.join(WORK, f"{tag}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    return scratch


def start_session(scratch: str):
    """A live session from ``data_sync_spark.session.get_spark``, which
    chooses the shuffle directory as it does for every caller."""
    from data_sync_spark import session

    tmp = os.path.join(scratch, "tmp")
    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    return session.get_spark("perfbench", extra_conf=extra)


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` (peak resident set) from ``/proc``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def new_table(spark, path: str):
    """The empty target table every workload writes into: the engine's
    default layout (16 buckets, default compaction threshold)."""
    from data_sync_spark.lake import LakeTable
    from data_sync_spark.schema import TARGET_SCHEMA

    return LakeTable.create(spark, path, TARGET_SCHEMA, n_buckets=16)


def since(t0: float) -> float:
    return time.perf_counter() - t0
