"""Host fitting, process-tree memory sampling and process shutdown.

Everything here runs before or after Spark, never inside a measured call.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def fit_host(root: str, work: str) -> dict:
    """Size Spark for this host through the environment the package reads.

    Must run before ``information_retrieval_images_spark.session`` is
    imported: its ``SPARK_CONF`` reads the driver heap at import time.
    """
    cpus = len(os.sched_getaffinity(0))
    # half the CPUs run Spark tasks; the other half is left to what runs
    # beside them (the driver, the JVM's compiler and GC threads, and the
    # Python worker that feeds each arrow-engine task). On a 4-CPU host
    # with all four running tasks, the same build took 10-25% longer and
    # varied more between repeats in one session.
    task_cpus = max(1, cpus // 2)
    mem_total_mb = _meminfo_mb("MemTotal")
    # the machine is shared and has no swap: an eighth of RAM, 1-4 GiB, is
    # ample for a few thousand pages and leaves room for Python workers
    driver_mb = max(1024, min(4096, mem_total_mb // 8))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(task_cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # one task per task CPU and stage: the package default of 32 drowns
        # a few-thousand-page corpus in tiny tasks
        "SPARK_GRAFT_SHUFFLE": str(task_cpus),
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, spark-submit's launcher included: temporary files under
        # ``work``, no /tmp/hsperfdata_<user> entry
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return {
        "cpus": cpus,
        "task_cpus": task_cpus,
        "mem_total_mb": mem_total_mb,
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "shuffle_partitions": int(env["SPARK_GRAFT_SHUFFLE"]),
        "python": sys.version.split()[0],
    }


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, start time in clock ticks, command name) for every
    visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        close = stat.rindex(")")
        fields = stat[close + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[19]), stat[stat.index("(") + 1 : close])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemory:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) on a background thread; keeps the peak and
    every descendant seen, so shutdown can wait for each one.

    Counted: this process, its children (the JVM) and every Python
    process below them (the worker daemon and its workers). Skipped: the
    JVM's short-lived helper children, which share its address space until
    they exec and would count the JVM twice."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_split: list[int] = []  # per-process RSS at the peak, largest first
        self.seen: dict[int, int] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-memory", daemon=True)

    def start(self) -> "TreeMemory":
        self._thread.start()
        return self

    def sample(self) -> None:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        me = os.getpid()
        tree, todo = [], [me]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        for pid in tree:
            if pid != me:
                self.seen.setdefault(pid, table[pid][1])
        rss = [_rss_kb(p) for p in tree if table[p][0] == me or p == me or table[p][2].startswith("python")]
        if sum(rss) > self.peak_kb:
            self.peak_kb = sum(rss)
            self.peak_split = sorted(rss, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def wait_descendants(self, timeout_s: float = 30.0) -> None:
        """Wait until every descendant ever seen has exited; kill stragglers."""
        deadline = time.time() + timeout_s
        while True:
            table = _proc_table()
            alive = [p for p, st in self.seen.items() if p in table and table[p][1] == st]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 5.0
            time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal. Steal is time the hypervisor gave these vCPUs away."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]
