"""Host and session evidence recorded with every run, with assertions."""

from __future__ import annotations

import os
import signal
import time

MAX_CORES = 4


def cores() -> int:
    """Cores this process may run on, capped at MAX_CORES."""
    n = len(os.sched_getaffinity(0))
    if n < 1:
        raise RuntimeError("empty CPU affinity set")
    return min(n, MAX_CORES)


def _competing_spark_jvms() -> int:
    """Spark JVMs on the host that are not children of this process."""
    ppid_of: dict[str, str] = {}
    spark_pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid_of[pid] = f.read().rsplit(")", 1)[1].split()[1]
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    spark_pids.append(pid)
        except OSError:
            continue
    mine = {str(os.getpid())}
    grew = True
    while grew:
        grew = False
        for pid, ppid in ppid_of.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sum(1 for pid in spark_pids if pid not in mine)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def end_processes(pids: list[int], grace: float = 10.0) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit, then send
    SIGTERM, then SIGKILL, and return only once every one has ended."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + grace
        while True:
            pids = [p for p in pids if _alive(p)]
            if not pids or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            return
    raise RuntimeError(f"processes {pids} survived SIGKILL")


def load() -> dict:
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            "competing_spark_jvms": _competing_spark_jvms()}


def session_evidence(spark, n_cores: int) -> dict:
    """Read back the live session's parallelism and confs and assert
    they are what the benchmark asked for."""
    from pyspark.errors import utils as errutils

    sc = spark.sparkContext
    ev = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "arrow": spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"),
        "debugging_cache": errutils._enable_debugging_cache,
    }
    problems = []
    if ev["master"] != f"local[{n_cores}]":
        problems.append(f"master {ev['master']} != local[{n_cores}]")
    if ev["default_parallelism"] != n_cores:
        problems.append(f"defaultParallelism {ev['default_parallelism']} != {n_cores}")
    if ev["shuffle_partitions"] != str(n_cores):
        problems.append(f"shuffle partitions {ev['shuffle_partitions']} != {n_cores}")
    if ev["aqe"] != "true" or ev["arrow"] != "true":
        problems.append(f"AQE/Arrow not enabled: {ev['aqe']}/{ev['arrow']}")
    # the session pins pyspark's per-call error-context capture off; the
    # pin can silently not apply, which adds py4j round trips to every
    # DataFrame call
    if ev["debugging_cache"] is not False:
        problems.append(f"pyspark debugging cache is {ev['debugging_cache']!r}, not False")
    if problems:
        raise RuntimeError("session evidence: " + "; ".join(problems))
    return ev
