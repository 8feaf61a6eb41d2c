"""Session launch for the benchmark: sized from the host, confined to a
work directory, importable from Python workers in any working directory.

The benchmark drives the engine through ``duckdb_vss_spark.get_spark``;
this module only chooses its ``cpus`` and ``SPARK_GRAFT_DRIVER_MEM``
inputs and the launch environment (``PYSPARK_SUBMIT_ARGS``), then
records what it chose.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import tempfile
import time

MAX_CORES = 4


def _cgroup_limit_bytes() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:
            return int(raw)
    return None


def _meminfo_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_resources() -> dict:
    """Cores from the scheduler affinity mask (capped at ``MAX_CORES``),
    driver heap as an eighth of host or cgroup memory, clamped to
    1-4 GiB: the inputs are a few MB, and the host is shared."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    mem = _meminfo_bytes()
    limit = _cgroup_limit_bytes()
    if limit is not None:
        mem = min(mem, limit)
    heap_mb = max(1024, min(4096, mem // 8 // (1 << 20)))
    return {"cores": cores, "host_mem_mb": mem >> 20, "driver_heap_mb": heap_mb}


def start_session(root: str, work: str, app: str):
    """Start the engine's session with every file it writes under
    ``work``. Returns ``(spark, info)``; ``info`` records the choices and
    the session start time."""
    res = host_resources()
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{res['driver_heap_mb']}m"
    # executorEnv.PYTHONPATH: Python workers import the package from the
    # checkout whatever their working directory is
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.executorEnv.PYTHONPATH={root}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )
    if root not in sys.path:
        sys.path.insert(0, root)
    from duckdb_vss_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, cpus=res["cores"])
    res["session_start_s"] = time.perf_counter() - t0
    res["master"] = spark.sparkContext.master
    res["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
    res["jvm_pid"] = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return spark, res


def job_floor_s(spark, n: int = 3) -> float:
    """Median wall time of a trivial one-task job, after one warm-up."""
    sc = spark.sparkContext
    sc.parallelize([0], 1).count()
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        times.append(time.perf_counter() - t0)
    return sorted(times)[n // 2]


def driver_peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory of the driver: the JVM's high-water mark and
    this Python process's, in MB."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def _proc_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and every live descendant, each with its
    reaped children (``cutime``/``cstime``), from ``/proc``: the driver
    JVM plus the Python workers it forks. Stolen and waiting time are not
    counted, so this moves with the work done, not with host contention."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM, its Python workers and
    this Python process."""
    t = os.times()
    return _proc_tree_cpu_s(jvm_pid) + t.user + t.system


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
