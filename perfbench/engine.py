"""Session and process lifetime for one benchmark run.

One driver process, one JVM, ``local[<cores>]``. Everything the run writes
(inputs, job outputs, Spark scratch, temp files) lives under a work
directory inside the checkout; :func:`shutdown` stops the JVM and the
Python workers it forked and waits for each to end.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
import traceback


def prepare_env(root: str, work: str, cores: int) -> None:
    """Environment the JVM and its Python workers inherit (set before launch)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            # workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            # the inputs are small and the host is shared: cap the heap
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # every JVM (launcher and driver): temp files in the work dir, and
            # no hsperfdata, which HotSpot writes under /tmp regardless
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )


def start(work: str, master: str | None = None):
    """Start (or restart) the session through the program's own factory."""
    from crossai_ts_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def restart(spark, work: str, master: str | None = None):
    spark.stop()
    return start(work, master)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """Peak resident set of a process (VmHWM), in MiB."""
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(timeout: float = 30.0) -> None:
    """Stop the session, then the JVM and its workers; wait until all have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception:  # a broken gateway (interrupted run): still stop the JVM below
        traceback.print_exc(file=sys.stderr)
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    tree = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(10)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in tree) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
