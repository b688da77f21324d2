"""Spark session lifecycle, process-tree memory and host diagnostics.

Everything the benchmark writes lives under one run directory inside the
checkout: Spark's local dirs, the JVM's temp dir, the event log and the
generated inputs.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time


def session_conf(run_dir: str, cpus: int, event_log_dir: str | None) -> dict:
    """The benchmark's session conf (shuffle partitions and AQE as in the
    repo's bench.py), with every local path inside the run directory."""
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "s2spark-perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(max(8, cpus)),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, then every process left in our tree."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


# -- process tree --------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rfind(")") + 2]
    except OSError:
        return "Z"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRssSampler:
    """Peak summed RSS of this process and all its descendants (driver JVM,
    Python driver, Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- host diagnostics ------------------------------------------------------------

def host_snapshot() -> dict:
    """/proc/stat CPU jiffies (steal included), the load average, and the
    time of a fixed single-core loop (``cpu_probe_s``). On a shared VM the
    host's speed can change between runs with almost no steal; the probe
    shows such a change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i & 7
    snap = {"t": time.time(), "cpu_probe_s": time.perf_counter() - t0}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        snap["cpu_jiffies"] = dict(zip(names, (int(x) for x in cpu[1:9])))
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        pass
    return snap


def steal_frac(start: dict, end: dict) -> float | None:
    a, b = start.get("cpu_jiffies"), end.get("cpu_jiffies")
    if not a or not b:
        return None
    total = sum(b.values()) - sum(a.values())
    return (b["steal"] - a["steal"]) / total if total > 0 else 0.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
