"""Spark session lifecycle for the benchmark: timed set-up with Python-worker
warm-up, worker peak-RSS sampling, a shutdown that waits for the JVM, and
the reaping of every process a run started."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0  # how long stragglers may take to exit before a kill


def _warm_worker(batches):
    # importing the kernel is the warm-up a reused worker keeps
    import zpdfspark.kernel.htmltext  # noqa: F401

    yield from batches


def identity(batches):
    yield from batches


def _process_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """Children and command name of every process, from /proc."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        close = stat.rfind(")")
        comm[int(entry)] = stat[stat.find("(") + 1:close]
        ppid = int(stat[close + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children, comm


def python_worker_peak_rss_mb() -> float:
    """Largest VmHWM (peak RSS) among Python processes descended from this
    one: the Spark daemon and its forked workers."""
    children, comm = _process_table()
    peak_kb = 0
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if not comm.get(pid, "").startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def become_subreaper() -> None:
    """Adopt orphaned descendants, such as the Python workers of a JVM that
    has exited, so that ``reap_children`` can wait for them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children() -> None:
    """Wait until every child of this process has ended; kill those still
    running after REAP_GRACE_S."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _process_table()[0].get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Engine:
    """One local Spark session at a time, restartable, with every file it
    writes kept under ``work``."""

    def __init__(self, work: str, cores: int, conf: dict | None = None):
        self.work = work
        self.cores = cores
        self.event_dir = os.path.join(work, "eventlog")
        jtmp = os.path.join(work, "jvm-tmp")
        for d in (self.event_dir, jtmp):
            os.makedirs(d, exist_ok=True)
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
            "spark.ui.showConsoleProgress": "false",
            **(conf or {}),
        }
        self.spark = None
        self.peak_rss_mb = 0.0

    def start(self, cores: int | None = None,
              event_log: bool = False) -> tuple[float, float]:
        """Start a session; returns (session start s, worker warm-up s)."""
        from zpdfspark.spark.session import get_spark

        self.stop()
        cores = cores or self.cores
        conf = dict(self.conf)
        # set both ways: a restarted context inherits the launch conf
        conf["spark.eventLog.enabled"] = "true" if event_log else "false"
        if event_log:
            conf.update({"spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(cores, "perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.range(0, cores, 1, cores).mapInArrow(
            _warm_worker, "id long").collect()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, python_worker_peak_rss_mb())

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def jobs_in_group(self, name: str) -> int:
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(name))

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
