"""Workload `crawl`: durable frontier crawl supersteps with indexing.

Set-up bootstraps a CrawlJob (index=True, checkpoint_every=1) on a seed
list generated from --seed, BOOTSTRAPS times on fresh roots, and runs
superstep 0 of the last job as a warm-up: it pays the first-run code
generation of the step's queries, which a long crawl pays once.
setup_s = session start + median bootstrap + warm-up step. The timed
region is the next TIMED_STEPS `run_step()` supersteps. With
compact_every = TIMED_STEPS they span one full compaction cycle: the
first timed step folds the filter, seen and postings tables. Outputs
are checked afterwards against ReplaySimulator: per-step fetched sets
and counts, and the final seen-set size.
"""

from __future__ import annotations

import random
import time
from statistics import median

from perfbench.common import Run, dir_bytes, log

NUM_HOSTS = 30
N_SEEDS = 300
VOCAB = 5000
BOOTSTRAPS = 4
TIMED_STEPS = 2
COMPACT_EVERY = TIMED_STEPS
PHASES = (
    "select_batch", "fetch_write", "enrich", "probe", "admit_write",
    "lineage", "seen_write", "filter_write", "index", "frontier_write",
)


def seed_list(seed: int, n: int, num_hosts: int) -> list[str]:
    """Seed URLs in the shape of webmodel.seed_urls (every fifth on the
    hot host), with hosts and paths drawn from `seed`."""
    from spider_engine_spark import webmodel as wm

    rng = random.Random(seed)
    out = []
    for i in range(n):
        hd = 0 if i % 5 == 0 else rng.randrange(num_hosts)
        out.append(f"http://{wm.host_name(hd)}/p/{rng.randrange(1, 10**9)}")
    return out


def main(run: Run) -> None:
    from spider_engine_spark import webmodel as wm
    from spider_engine_spark.operators.frontier import CrawlJob
    from spider_engine_spark.simulator import ReplaySimulator

    spark = run.start_spark()
    s0 = run.session_state()
    cfg = wm.WebConfig(num_hosts=NUM_HOSTS, vocab_size=VOCAB)
    seeds = seed_list(run.seed, N_SEEDS, NUM_HOSTS)
    boot_s = []
    for k in range(BOOTSTRAPS):
        root = run.path(f"crawl_root{k}")
        t = time.monotonic()
        with run.span("crawl.bootstrap", rid=f"warm{k}"):
            job = CrawlJob(
                spark, root, seeds=seeds, num_shards=16, salts=4, index=True,
                cfg=cfg, compact_every=COMPACT_EVERY, checkpoint_every=1,
            )
        boot_s.append(time.monotonic() - t)
    t = time.monotonic()
    with run.span("crawl.step", rid="warm"):
        warm = job.run_step()
    warm_s = time.monotonic() - t
    setup_s = run.session_s + median(boot_s) + warm_s

    bytes0 = dir_bytes(root)
    timed = []
    cpu0, jvm0 = run.cpu_s(), run.jvm_s()
    for i in range(TIMED_STEPS):
        ts = time.monotonic()
        with run.span("crawl.step", rid=str(i)):
            m = job.run_step()
        m["wall_s"] = time.monotonic() - ts
        timed.append(m)
    wall = sum(m["wall_s"] for m in timed)
    cpu = run.cpu_s() - cpu0
    gc_s, jit_s = (b - a for a, b in zip(jvm0, run.jvm_s()))
    grown = dir_bytes(root) - bytes0
    s1 = run.session_state()
    rss = run.peak_rss_mb()

    # correctness, outside the timed region
    with run.span("crawl.check"):
        fetched = {}
        for r in job.fetched_df().collect():
            fetched.setdefault(r["fetch_step"], []).append(r["url"])
        seen_n = job.seen_df().count()
        sim = ReplaySimulator(seeds, cfg)
        for i, m in enumerate([warm] + timed):
            sm = sim.run_step()
            run.attempted += 1
            ok = sorted(fetched.get(i, [])) == sim.fetched_by_step[i] and all(
                m.get(k) == sm[k] for k in ("fetched", "candidates", "admitted")
            )
            if i == len(timed):
                ok = ok and seen_n == len(sim.seen)
            run.check(ok, f"crawl step {i} diverged from ReplaySimulator")

    urls = sum(m["fetched"] + m["candidates"] for m in timed)
    maybe = sum(m.get("maybe_seen", 0) for m in timed)
    admitted = sum(m["admitted"] for m in timed)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (urls / wall, "1/s"),
    }
    per_layer = {
        f"frontier.{p}_s": (sum(m["phases"].get(p, 0.0) for m in timed), "s")
        for p in PHASES
    }
    per_layer.update({
        "tableio.bytes_written_per_url": (grown / max(admitted, 1), "B"),
        "session.persisted_rdds_end": (s1[0] - s0[0], "count"),
        "session.storage_mb_end": (s1[1] - s0[1], "MB"),
        "session.peak_rss_mb": (rss, "MB"),
        "session.timed_cpu_s": (cpu, "s"),
        "session.jit_compile_s": (jit_s, "s"),
        "session.gc_s": (gc_s, "s"),
        "trace.timed_s": (wall, "s"),
    })
    log(f"crawl: {len(timed)} timed steps, {urls} urls in {wall:.2f}s")
    run.finish(end_to_end, per_layer, {
        "setup_s": (setup_s, "s"),
        "crawl_urls_per_s": (urls / wall, "urls/s"),
        "peak_rss_mb": (rss, "MB"),
    }, {
        "bootstrap_s": [round(b, 3) for b in boot_s],
        "warm_step_s": round(warm_s, 3),
        "fetched_per_step": [m["fetched"] for m in [warm] + timed],
        "step_s": [round(m["wall_s"], 3) for m in timed],
        # the web is large enough that timed steps rarely meet a URL
        # twice, so these stay near (candidates, 0, 0)
        "admitted_maybe_seen_fp": [
            admitted, maybe, sum(m.get("cuckoo_false_positives", 0) for m in timed)
        ],
    })
