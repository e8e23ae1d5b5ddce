"""Host facts, process memory and session teardown, read from /proc."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """User + system ticks of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0  # exited while we looked
    return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


class CpuClock:
    """CPU seconds burnt so far by this process (every thread) and by the
    driver JVM with every process below it (the PySpark daemon and its
    Python workers; a worker that exits is reaped by the daemon and stays
    counted there). Unlike wall time, it does not grow with the CPU time
    other tenants take from a shared host."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._lock = threading.Lock()

    def __call__(self) -> float:
        with self._lock:
            t = os.times()
            ticks = sum(_cpu_ticks(p) for p in [self.jvm_pid, *descendants(self.jvm_pid)])
            return t.user + t.system + ticks / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed RSS of the driver JVM and every process below it
    (the PySpark daemon and its Python workers), sampled every ``period``."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(name="rss-sampler", daemon=True)
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in [self.jvm_pid, *descendants(self.jvm_pid)])
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def loadavg() -> float:
    return os.getloadavg()[0]


def fingerprint(spark, driver_mem: str, java_opts_env: str | None) -> dict:
    """Cores, effective JVM options, driver memory and versions."""
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "cores": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions", ""),
        # session.py replaces its pinned GC/JIT flags wholesale when this is set
        "TICDC_SPARK_JAVA_OPTS_replaced_pinned_flags": java_opts_env is not None,
        "JAVA_TOOL_OPTIONS": os.environ.get("JAVA_TOOL_OPTIONS", ""),
        "spark.driver.memory": conf.get("spark.driver.memory", ""),
        "TICDC_SPARK_DRIVER_MEM": driver_mem,
        "host_mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the gateway JVM and wait until it and every process
    it started (PySpark daemon, Python workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    procs = [jvm_pid, *descendants(jvm_pid)]
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            proc.stdin.close()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.05)
