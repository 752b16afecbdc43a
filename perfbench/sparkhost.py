"""A Spark session sized to the host, and a teardown that waits for
every process the session started.

``local[nproc]`` with shuffle partitions equal to nproc; the driver
heap is a quarter of physical RAM, capped at 4 GiB, because the
corpus is small and the machine may be shared. Spark's scratch space
is ``$SPARK_LOCAL_DIRS`` when set, else a directory inside the
benchmark's work dir, so a run writes nowhere else by default.

The driver JVM compiles with C1 only (``JVM_OPTS``). A run lives about
a minute, and on a 4-CPU host C2's compiler threads compete with the
four task threads for most of it: with C2, ops were still getting
faster after 40 s of queries and each run measured a different point
of that curve. With C1 only, on the same inputs, set-up took about 20%
less and ops about 15% less. Both sides of a comparison run with the
same flags.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time

#: driver JVM flags besides the temp dir; see the module docstring
JVM_OPTS = "-XX:TieredStopAtLevel=1"


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user, nice, system,
    idle, iowait, irq, softirq, steal), or [] where /proc/stat is
    missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of the host's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests: a run whose latencies
    are all high together usually shows it here."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_info() -> dict:
    import pyspark

    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": cpus,
        "ram_gib": round(ram / 2**30, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory_mb": max(1024, min(4096, ram // 4 // 2**20)),
        "jvm_opts": JVM_OPTS,
    }


def start(work: str, root: str, event_dir: str | None = None):
    """A new local session; ``event_dir`` turns the event log on."""
    from pyspark.sql import SparkSession

    info = host_info()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.environ.get("SPARK_LOCAL_DIRS") or os.path.join(
        work, "spark-local")
    # python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    n = info["nproc"]
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{info['driver_memory_mb']}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} {JVM_OPTS}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir",
                os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", event_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> set[int]:
    tree = _children()
    found, frontier = set(), {pid}
    while frontier:
        kids = {c for c, p in tree.items() if p in frontier} - found
        found |= kids
        frontier = kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, then wait for the JVM and every
    process under it (python workers) to exit; kill what lingers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = [p for p in procs if _alive(p)]
        if not left:
            return
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procs:
        while _alive(p):
            time.sleep(0.05)
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
