"""A Spark session sized for the host, kept inside the benchmark's work dir.

Cores come from the CPU affinity mask, the Spark driver heap is capped so the
one local JVM fits a shared machine, the console progress bar is off, and
every scratch file Spark or its Python workers write lands under
``work_dir``. ``close`` stops the session and waits for the JVM to exit.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

DRIVER_MEMORY = "2g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str, event_log_dir: str | None = None):
    """Return (spark, seconds to start). ``event_log_dir`` turns on Spark's
    uncompressed, single-file event log there (the traced run)."""
    from iresearch_spark import get_spark

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and its Python workers
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived JVM spark-submit starts to build the launch command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # UsePerfData off: no hsperfdata file in the system temp dir
            f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -XX:-UsePerfData"
        ),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=host_cores(), extra_conf=conf)
    return spark, time.perf_counter() - t0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # field 4 is the parent pid; the name (field 2) may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of the Spark JVM plus its live Python workers
    (sum of each process's high-water mark), in MB."""
    proc = _jvm_proc()
    if proc is None:
        return 0.0
    todo, seen = [proc.pid], set()
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return sum(_hwm_kb(p) for p in seen) / 1024.0


def close(spark) -> None:
    """Stop the session, then shut the py4j gateway and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    proc = _jvm_proc()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except (OSError, Py4JError):  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
