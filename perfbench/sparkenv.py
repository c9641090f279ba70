"""Process environment, session start and clean shutdown for the
benchmark's Spark sessions.

Every file Spark, the Python workers and the program write goes under
the run's work directory inside the checkout: temp files, shuffle
spill (``SPARK_LOCAL_DIRS`` overrides the session's ``spark.local.dir``)
and the JVM's temp dir.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import time

# a driver heap that fits the 15 GB box next to the Python workers
# (the session factory's default is 48g)
DRIVER_MEM = "3g"


def prepare(work: str) -> None:
    """Point every temp and spill directory at ``work``; call before
    pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start(app: str, cores: int):
    from arcade_spark.session import get_spark

    return get_spark(app=app, cores=cores, driver_mem=DRIVER_MEM)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_kb(pids: list[int]) -> dict[str, list[int]]:
    """VmHWM (peak resident set, kB) of each of ``pids`` that is still
    alive, grouped by command name."""
    out: dict[str, list[int]] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.setdefault(fields["Name"].strip(), []).append(
                int(fields["VmHWM"].split()[0]))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
