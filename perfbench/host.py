"""Host-fit Spark session for the benchmark, and process-tree memory.

The session is sized from the machine it runs on rather than from the
``kg.session`` defaults (32 cores, 24g driver): ``local[<usable cores>]``
and a driver heap of a quarter of physical RAM, capped at 8g.  Every
scratch file Spark, the JVM and Python write goes under the benchmark's
work directory inside the checkout (shuffle and block-manager dirs, the
JVM temp dir, the PySpark gateway handshake file), so a run touches
nothing outside it.
"""

from __future__ import annotations

import os
import subprocess


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_plan(root: str, work_dir: str) -> dict:
    """Cores, driver heap and scratch dirs for this host.  Sets the
    environment the JVM inherits, so call it before the first session."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = _mem_total_bytes() / 2**30
    driver_gb = max(1, min(8, int(mem_gb // 4)))
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    return {
        "cores": cores,
        "mem_total_gb": round(mem_gb, 1),
        "driver_memory": f"{driver_gb}g",
        "local_dir": os.path.relpath(local_dir, root),
    }


def start_session(plan: dict):
    """JVM launch, get_spark and one JVM warm-up job: the set-up a fresh
    ``kg.main`` process pays.  Python workers are not started here: the
    first build forks them, as the first stage of a ``kg.main`` process
    does, so their start-up lands in that build's wall."""
    from kg.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        parallelism=plan["cores"],
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the benchmark folds the status store after every build, but a
            # build launches up to ~150 stages: keep the default retention
            # from evicting a build's stages before they are read
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _descendants() -> list[int]:
    out, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    this process and every live descendant: the JVM and the Python
    workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:4])
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def descendants_peak_rss_mb() -> float:
    """Σ VmHWM (peak resident set) over every descendant of this process:
    the JVM and the Python worker daemon and workers it forked.  The
    driver's own Python process is excluded."""
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024
