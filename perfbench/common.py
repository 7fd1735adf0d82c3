"""Shared plumbing of the benchmark: run directory, Spark session,
spans, job-group tagging, RSS and session-growth probes, and the
result line.

Every workload runs in its own process with its own Spark session.
All scratch state (Spark local dirs, table roots, the event log) lives
under one run directory inside the checkout and is removed at exit.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def as_json(metrics: dict) -> dict:
    """{name: (value, unit)} -> {name: {"value": value, "unit": unit}}."""
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def dir_bytes(d: str) -> int:
    """Bytes of all files under d."""
    n = 0
    for dp, _, files in os.walk(d):
        for f in files:
            try:
                n += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return n


class Run:
    """One benchmark process: owns the run dir, the session and the
    spans. `trace` turns on the event log, job-group tags and the
    layer wrappers; the untraced run only takes wall times."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.t_start = time.monotonic()
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.dir = os.path.join(
            ROOT, ".perfbench_run", f"{workload}-{os.getpid()}"
        )
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tmp = self._sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = self._sub("spark-local")
        tempfile.tempdir = self.tmp
        # executors (python workers) import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spans: list[dict] = []
        self._span_stack: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.session_s = 0.0
        self.event_log_dir = self._sub("eventlog") if trace else None

    def _sub(self, name: str) -> str:
        d = os.path.join(self.dir, name)
        os.makedirs(d, exist_ok=True)
        return d

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    # -- session --------------------------------------------------------
    def start_spark(self):
        """Start the session; session_s is process start to session up."""
        with self.span("session.start"):
            spark = self._start_spark()
        self.session_s = time.monotonic() - self.t_start
        return spark

    def _start_spark(self):
        from spider_engine_spark.session import get_spark

        cores = nproc()
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self._sub("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def session_state(self) -> tuple[int, float]:
        """(persisted RDD count, storage MB) of the live session."""
        sc = self.spark.sparkContext
        n = int(sc._jsc.getPersistentRDDs().size())
        mem = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            mem += int(info.memSize()) + int(info.diskSize())
        return n, mem / 1e6

    def peak_rss_mb(self) -> float:
        """Driver python + driver JVM high-water RSS."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        try:
            pid = self.spark.sparkContext._gateway.proc.pid
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except (AttributeError, OSError):
            pass
        return (py_kb + jvm_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and the
        JVM's live descendants (python workers)."""
        tick = os.sysconf("SC_CLK_TCK")
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        rest = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
        kids = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        todo = [self.spark.sparkContext._gateway.proc.pid]
        total = 0
        while todo:
            pid = todo.pop()
            total += stats.get(pid, (0, 0))[1]
            todo.extend(kids.get(pid, []))
        t = os.times()
        return total / tick + t.user + t.system

    def jvm_s(self) -> tuple[float, float]:
        """(GC seconds, JIT compile seconds) the driver JVM has spent so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, rid: str | None = None):
        """Record a span; in traced runs also tag its Spark jobs
        with a job group `<name>` (`<name>#<rid>` when rid is given)."""
        stack = self._span_stack
        parent = stack[-1] if stack else None
        group = name if rid is None else f"{name}#{rid}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.trace and sc is not None:
            sc.setJobGroup(group, group)
        stack.append(group)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            stack.pop()
            self.spans.append(
                {"name": name, "rid": rid, "group": group, "parent": parent,
                 "start": t0 - self.t_start, "end": t1 - self.t_start}
            )
            if self.trace and sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent, parent)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    # -- correctness ----------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
            log(f"CHECK FAILED: {what}")

    # -- result ---------------------------------------------------------
    def finish(self, end_to_end: dict, per_layer: dict, named: dict,
               info: dict) -> None:
        """Stop the session, fold the event log in traced runs, print the
        report on stderr and the result object as the last stdout line.

        Metrics are {name: (value, unit)}. `named` holds the workload's
        own end-to-end metrics, reported on stderr only; `info` holds
        plain run details."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.trace:
            from perfbench import eventlog

            log("spans " + json.dumps(self.spans))
            per_layer = eventlog.fold(self.event_log_dir, self.workload, per_layer)
        metrics = per_layer if self.trace else end_to_end
        ok = self.failed == 0 and self.attempted > 0
        named = dict(named, failed_frac=(self.failed / max(self.attempted, 1), "ratio"))
        info = dict(info, span_s={
            s["group"]: round(s["end"] - s["start"], 3)
            for s in self.spans if s["rid"] is None
        })
        log("report " + json.dumps(
            {"workload": self.workload, "seed": self.seed, "trace": self.trace,
             "failures": self.failures, "metrics": as_json(named), "info": info},
            sort_keys=True))
        print(json.dumps({
            "correct": ok,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": as_json(metrics),
        }), flush=True)

    def cleanup(self) -> None:
        """Stop the session and the driver JVM, wait for it to exit, and
        remove the run dir."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # noqa: BLE001 - exit path: go on stopping
                log(f"spark.stop failed: {e!r}")
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception as e:  # noqa: BLE001 - the JVM may be gone already
                log(f"gateway shutdown failed: {e!r}")
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        try:
            os.rmdir(parent)
        except OSError:
            pass

