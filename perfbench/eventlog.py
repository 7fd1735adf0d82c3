"""Traced-run layer report: fold the Spark event log, keyed by the job
groups of the benchmark's spans, into the per-layer metrics.

The traced session writes one uncompressed, non-rolling JSON-lines
event log. Every job carries the job group of the span it ran under
(`<span name>` or `<span name>#<id>`), so task metrics fold
per span: jobs, tasks, executor run/CPU time, shuffle bytes and
the Python-UDF bytes of the SQL metrics.

Every listed per-layer metric is reported on every workload; a layer
the workload does not touch reports 0, the predicted bypass.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1e6

# (name, unit) of the per-layer metrics BENCHMARK.json lists, in report
# order; every traced run reports all of them
LAYER_METRICS = [
    *[(f"frontier.{p}_s", "s") for p in (
        "select_batch", "fetch_write", "enrich", "probe", "admit_write",
        "lineage", "seen_write", "filter_write", "index", "frontier_write")],
    ("frontier.jobs_per_step", "count"),
    ("frontier.tasks_per_step", "count"),
    ("frontier.executor_run_s", "s"),
    ("frontier.executor_cpu_s", "s"),
    ("frontier.shuffle_write_mb", "MB"),
    ("frontier.shuffle_read_mb", "MB"),
    ("frontier.python_udf_mb", "MB"),
    ("tableio.bytes_written_per_url", "B"),
    ("dedup.shingle_pairs_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.pairs_per_candidate", "ratio"),
    ("dedup.ngram_jaccard_s", "s"),
    ("dedup.clusters_s", "s"),
    ("dedup.simhash_s", "s"),
    ("dedup.minhash_s", "s"),
    ("dedup.jobs", "count"),
    ("dedup.shuffle_write_mb", "MB"),
    ("session.persisted_rdds_end", "count"),
    ("session.storage_mb_end", "MB"),
    ("session.peak_rss_mb", "MB"),
    ("session.timed_cpu_s", "s"),
    ("session.jit_compile_s", "s"),
    ("session.gc_s", "s"),
    ("trace.timed_s", "s"),
]

PYTHON_SQL_METRICS = ("data sent to Python workers", "data returned from Python workers")


class GroupStats:
    __slots__ = ("jobs", "tasks", "run_ms", "cpu_ns", "shuffle_write",
                 "shuffle_read", "python_bytes")

    def __init__(self):
        self.jobs = self.tasks = self.run_ms = self.cpu_ns = 0
        self.shuffle_write = self.shuffle_read = 0
        self.python_bytes = 0

    def add(self, o: "GroupStats") -> None:
        for k in self.__slots__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def read_groups(event_log_dir: str) -> dict[str, GroupStats]:
    """Per job group task-metric totals from the session's event log."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log file, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g].jobs += 1
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev.get("Stage ID"), "")]
                g.tasks += 1
                tm = ev.get("Task Metrics") or {}
                g.run_ms += tm.get("Executor Run Time", 0)
                g.cpu_ns += tm.get("Executor CPU Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                g.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in PYTHON_SQL_METRICS:
                        g.python_bytes += int(acc.get("Update") or 0)
    return groups


def timed_group(name: str) -> bool:
    """False for the set-up runs (id `warm*`)."""
    return not name.partition("#")[2].startswith("warm")


def total(groups: dict[str, GroupStats], prefix: str) -> tuple[GroupStats, int]:
    """Summed stats of the timed groups whose span name is `prefix`, and
    the number of such groups (= distinct ids)."""
    out, n = GroupStats(), 0
    for name, g in groups.items():
        if name.partition("#")[0] == prefix and timed_group(name):
            out.add(g)
            n += 1
    return out, n


def fold(event_log_dir: str, workload: str, measured: dict) -> dict:
    """Per-layer metrics: the workload's own measurements plus the
    event-log folds, with every metric of LAYER_METRICS present."""
    groups = read_groups(event_log_dir)
    out = dict(measured)
    if workload == "crawl":
        g, n = total(groups, "crawl.step")
        n = max(n, 1)
        out.update({
            "frontier.jobs_per_step": (g.jobs / n, "count"),
            "frontier.tasks_per_step": (g.tasks / n, "count"),
            "frontier.executor_run_s": (g.run_ms / 1e3, "s"),
            "frontier.executor_cpu_s": (g.cpu_ns / 1e9, "s"),
            "frontier.shuffle_write_mb": (g.shuffle_write / MB, "MB"),
            "frontier.shuffle_read_mb": (g.shuffle_read / MB, "MB"),
            "frontier.python_udf_mb": (g.python_bytes / MB, "MB"),
        })
    elif workload == "corpus_dedup":
        d, passes = GroupStats(), set()
        for name, g in groups.items():
            if name.startswith("dedup.") and "#" in name and timed_group(name):
                d.add(g)
                passes.add(name.split("#", 1)[1])
        n = max(len(passes), 1)
        out.update({
            "dedup.jobs": (d.jobs / n, "count"),
            "dedup.shuffle_write_mb": (d.shuffle_write / MB / n, "MB"),
        })
    return {name: out.get(name, (0, unit)) for name, unit in LAYER_METRICS}
