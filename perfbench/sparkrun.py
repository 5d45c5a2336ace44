"""Spark session lifetime, process-tree memory and event-log metrics.

Everything the run needs to own the JVM it starts: launch through the
engine's session builder with all scratch paths inside the run's work
directory, stop the JVM and its Python workers and wait for them, sample the
resident memory of the whole process tree, and read task metrics back from
the Spark event log of the traced run.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may contain spaces; fields resume after ')'
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
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


class RssSampler:
    """Peak summed VmRSS of this process and all its descendants (JVM,
    Python daemon and workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


DRIVER_MEM = "2g"


def start_session(work: str, cores: int, app: str, event_log: bool):
    from aira_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # steady state within a short run: C1-only JIT compiles quickly, and
        # a fixed, pre-touched heap neither grows (no GC-frequency ramp) nor
        # makes peak RSS depend on when the heap happened to expand
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp "
            f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        os.makedirs(f"{work}/events", exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM the gateway launched and wait until it
    and every other descendant process (Python workers) have exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    kids = descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def cached_mb(spark) -> float:
    """Bytes held by persisted RDDs/DataFrames (memory + disk), in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def event_log_metrics(path: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Task-level engine metrics for tasks launched in [t0_ms, t1_ms]."""
    tasks = []
    with open(path) as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                continue
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "dur": info["Finish Time"] - info["Launch Time"],
                    "run": tm.get("Executor Run Time", 0),
                    "gc": tm.get("JVM GC Time", 0),
                    "shuffle": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                }
            )
    if not tasks:
        raise RuntimeError(f"no task in the event log {path} inside the measured window")
    stages: dict = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t)
    # slowest stage by wall time, first launch to last finish
    slowest = [
        t["dur"]
        for t in max(
            stages.values(),
            key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts),
        )
    ]
    run_ms = sum(t["run"] for t in tasks)
    return {
        "spark.task_s": run_ms / 1000.0,
        "spark.busy_frac": sum(t["dur"] for t in tasks) / (cores * (t1_ms - t0_ms)),
        "spark.gc_frac": sum(t["gc"] for t in tasks) / run_ms if run_ms else 0.0,
        "spark.shuffle_write_mb": sum(t["shuffle"] for t in tasks) / 1e6,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "spark.task_skew": max(slowest) / max(statistics.median(slowest), 1),
    }


def event_log_file(work: str, app_id: str) -> str:
    for name in (app_id, f"{app_id}.inprogress"):
        p = f"{work}/events/{name}"
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} under {work}/events")
