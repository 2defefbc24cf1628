"""Run plumbing shared by every workload: identity, settling, the Spark
session set-up, memory sampling and block release.

Nothing here times the program; it prepares a quiet, reproducible
place for the workloads to time it in.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import threading
import time

CPUS = os.cpu_count() or 1
# explicit heap for the local driver JVM (the engine's default is 24g,
# more than a 16 GB box has); the inputs are small, 2g leaves headroom
HEAP = "2g"


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def mem_available_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def _procs_running() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("procs_running"):
                return int(line.split()[1])
    return 1


def settle(max_wait_s: float = 30.0) -> float:
    """Wait (bounded) until the disk, CPU and memory are quiet.

    Dirty pages (the inputs just generated) are written back first, so
    the writeback does not overlap the timed set-up.  The 1-minute
    loadavg decays for minutes after a previous run, so the CPU test
    uses the instantaneous run queue instead: five samples 100 ms apart
    with at most one other runnable task.  Memory is settled once
    MemAvailable moves by less than 64 MB over 0.5 s, which covers the
    page reclaim that follows a JVM exit.  Returns the seconds waited.
    """
    t0 = time.monotonic()
    os.sync()
    prev = mem_available_mb()
    while time.monotonic() - t0 < max_wait_s:
        busy = []
        for _ in range(5):
            busy.append(_procs_running() - 1)  # this process is runnable
            time.sleep(0.1)
        now = mem_available_mb()
        if statistics.median(busy) <= 1 and abs(now - prev) < 64:
            break
        prev = now
    return time.monotonic() - t0


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def identity(root: str, seed: int, spark_version: str) -> dict:
    return {
        "cpus": CPUS,
        "master": f"local[{CPUS}]",
        "heap": HEAP,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_MEM": os.environ.get("SPARK_GRAFT_MEM"),
        "git_sha": git_sha(root),
        "spark": spark_version,
        "python": platform.python_version(),
        "seed": seed,
    }


def conditions() -> dict:
    return {"loadavg": loadavg(), "mem_available_mb": round(mem_available_mb(), 1)}


def prepare_env(root: str, run_dir: str) -> None:
    """Point every scratch location of Spark and Python into the run
    directory, and make the checkout importable by Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def session_conf(run_dir: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _warm_up(spark, warm_path: str) -> None:
    # JVM/JIT, the parquet reader and the Arrow Python-worker pool
    spark.read.parquet(warm_path).count()
    spark.range(64).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long"
    ).count()


def start_session(conf: dict[str, str], warm_path: str):
    """Set the session up cold and return (session, seconds): launch the
    driver JVM, build the session and warm it up, the set-up that every
    ``tube_spark.run`` job pays once."""
    from tube_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, warm_path)
    return spark, time.perf_counter() - t0


def shutdown(spark) -> dict[str, float]:
    """Stop the context and the JVM, and wait for the JVM to exit.

    The JVM exits once its stdin closes; one that has not after 10 s is
    terminated, then killed.  Returns the seconds each step took."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark.stop()
    t1 = time.perf_counter()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        for end in (lambda: None, proc.terminate, proc.kill):
            end()
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
    return {"stop_s": t1 - t0, "jvm_exit_s": time.perf_counter() - t1}


def release_blocks(spark) -> float:
    """Drop every cached table and persisted/checkpointed RDD with a
    *blocking* unpersist; returns the seconds it took."""
    t0 = time.perf_counter()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(True)
    return time.perf_counter() - t0


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class RssSampler:
    """Peak resident memory of this process tree (driver JVM, Python
    workers and this interpreter), sampled from ``/proc`` while inside
    a ``with`` block; the block may be entered more than once.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): a page shared by forked Python workers is counted
    once for the tree, not once per worker, so the total does not jump
    with the number of idle workers alive at the sampled instant."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_pss_mb(me))
            self._stop.wait(self.interval_s)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_pss_mb(root: int) -> float:
    kids = _children()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_mb(pid)
        todo.extend(kids.get(pid, ()))
    return total
