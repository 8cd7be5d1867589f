"""Session set-up and teardown for the benchmark.

The program gets the machine-sizing settings only: ``local[nproc]``, a
driver memory sized from /proc/meminfo, and scratch directories inside
the benchmark's work directory. Split-size and Arrow batch settings stay
the program's own (``ocr_wrapper_spark.session.get_spark``).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import host


def configure_environment(root: Path, work: Path) -> None:
    """Process-wide settings that must precede the first JVM launch: the
    Python workers import the checkout, and every temporary file lands in
    the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # workers import the checkout, and the benchmark's own modules for
    # the functions it ships to them
    here = str(Path(__file__).resolve().parent)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), here, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the container
    shares the machine, and the program's 16g default exceeds it."""
    gib = host.mem_total_bytes() // 2**30
    return f"{max(1, min(4, gib // 4))}g"


def session_conf(work: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(event_log)
        # one plain JSON-lines file the ledger can parse
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def _warm_op(batches):
    # imports the extraction operator and kernels in each Python worker
    import ocr_wrapper_spark.operators.extract  # noqa: F401

    yield from batches


def start(work: Path, event_log: Path | None = None):
    """Start a session and warm one Python worker per core.

    Returns (spark, start_s, warm_s)."""
    from ocr_wrapper_spark.session import get_spark

    n = cpus()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", extra_conf=session_conf(work, event_log)
    )
    t1 = time.perf_counter()
    (
        spark.range(0, n * 1024, numPartitions=n)
        .mapInArrow(_warm_op, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return spark, t1 - t0, time.perf_counter() - t1


def stop(spark) -> None:
    """Stop the session, shut the gateway down and reap the JVM, so the
    next start launches a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = host.subtree_pids(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python worker daemon follows the JVM; wait for it, then kill
    # whatever is left of the tree and wait for that too
    _wait_gone(pids, 30)
    for pid in pids:
        if host.alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    _wait_gone(pids, 10)


def _wait_gone(pids: set[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(host.alive(p) for p in pids):
        time.sleep(0.1)
