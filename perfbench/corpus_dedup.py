"""Workload `corpus_dedup`: a near-duplicate pass over a documents
table.

Set-up generates a corpus from --seed in the shape of the sf0.1
`documents` table (make_corpus), stages it as one parquet file and
reads it back through queries.load, SETUPS times; setup_s takes the
median. The timed region is one pass, as a queries.py run makes in a
fresh session: dedup_ngram_jaccard, dedup_clusters, dedup_simhash and
dedup_minhash_lsh, built from the operators.dedup functions with the
parameters queries.py uses and collected. Every result is checked
against an exact Python computation made once, outside the timed
region.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

from perfbench.common import Run, log

N_DOCS = 600
DUP_FRAC = 0.05
SETUPS = 5
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort line window query data column order join small big "
    "customer group filter stream vector"
).split()
# 31 words over 5,000 documents in the sf0.1 `documents` table give a
# mean 3-shingle posting length of 9.6; 15 words over 600 documents
# give about the same (V^3 shingles share N * 52 occurrences), and with
# it a like blow-up of shingle candidates per near-duplicate pair
VOCAB = 15


def make_corpus(seed: int, n: int = N_DOCS) -> list[tuple[int, str]]:
    """(doc_id, text) rows in the shape of the sf0.1 `documents` table:
    10-100 words drawn uniformly from VOCAB words, and DUP_FRAC of the
    documents a copy of an earlier one with the word `dup` appended
    (shingle Jaccard (L-2)/(L-1) >= 0.89). The seed draws the texts and
    the row order."""
    rng = random.Random(seed)
    words = WORDS[:VOCAB]
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < DUP_FRAC:
            texts.append(texts[rng.randrange(len(texts))] + " dup")
        else:
            texts.append(
                " ".join(rng.choice(words) for _ in range(rng.randint(10, 100)))
            )
    rng.shuffle(texts)
    return list(enumerate(texts))


# -- exact reference -----------------------------------------------------
def shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def exact_reference(docs: list[tuple[int, str]]) -> dict:
    sh = {d: shingles(t) for d, t in docs}
    post = defaultdict(list)
    for d, s in sh.items():
        for x in s:
            post[x].append(d)

    def jac(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    # every J >= 0.8 pair shares a shingle: the inverted index is complete
    cand_all, cand_cold = set(), set()
    for x, ds in post.items():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                p = (min(ds[i], ds[j]), max(ds[i], ds[j]))
                cand_all.add(p)
                if len(ds) <= 20:
                    cand_cold.add(p)
    by_set = defaultdict(list)
    for d, s in sh.items():
        by_set[s].append(d)
    for ds in by_set.values():
        ds.sort()
        cand_cold.update((ds[i], ds[j]) for i in range(len(ds)) for j in range(i + 1, len(ds)))
    jpairs = {p: jac(*p) for p in cand_all if jac(*p) >= 0.8}
    ngram = {p: jpairs[p] for p in cand_cold if p in jpairs}

    # connected components of the J >= 0.8 graph, min doc_id as label
    parent = {d: d for d, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in jpairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d, _ in docs}
    size = defaultdict(int)
    for c in comp.values():
        size[c] += 1
    clusters = {d: (c, size[c], d == c) for d, c in comp.items()}

    # 60-bit md5 SimHash, hamming <= 3 through exact 4x15-bit pigeonhole
    h60 = {
        w: int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for w in {w for _, t in docs for w in t.split()}
    }
    sims = {}
    for d, t in docs:
        cnt = defaultdict(int)
        for w in t.split():
            cnt[w] += 1
        sim = 0
        for b in range(60):
            s = sum(c if (h60[w] >> b) & 1 else -c for w, c in cnt.items())
            if s > 0:
                sim |= 1 << b
        sims[d] = sim
    band = defaultdict(list)
    for d, s in sims.items():
        for i in range(4):
            band[(i, (s >> (15 * i)) & 0x7FFF)].append(d)
    simpairs = {}
    for ds in band.values():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = min(ds[i], ds[j]), max(ds[i], ds[j])
                hd = bin(sims[a] ^ sims[b]).count("1")
                if hd <= 3:
                    simpairs[(a, b)] = hd
    return {"jaccard": jpairs, "ngram": ngram, "clusters": clusters,
            "simhash": simpairs, "candidates": len(cand_cold)}


# -- the pass --------------------------------------------------------------
def run_pass(run: Run, docs_dir: str, rid: str) -> tuple[dict, dict]:
    """One pass of the four dedup queries; returns (collected outputs,
    per-call wall seconds)."""
    from pyspark.sql import functions as F

    from spider_engine_spark.operators.dedup import (
        connected_components,
        jaccard_verify,
        minhash_lsh_pairs,
        minhash_signatures,
        shared_shingle_pairs,
        simhash_pairs,
    )
    from spider_engine_spark.queries import load

    spark = run.spark
    out, wall = {}, {}

    @contextmanager
    def timed(name):
        t0 = time.monotonic()
        with run.span(name, rid=rid):
            yield
        wall[name] = time.monotonic() - t0

    with timed("dedup.ngram_jaccard"):
        docs = load(spark, docs_dir, "documents")
        pairs = shared_shingle_pairs(docs, "doc_id", "text", n=3, max_df=20)
        out["ngram"] = jaccard_verify(pairs, docs, "doc_id", "text", n=3).filter(
            F.col("jaccard") >= 0.8
        ).collect()
    with timed("dedup.clusters"):
        docs = load(spark, docs_dir, "documents")
        sigs = minhash_signatures(docs, "doc_id", "text", k=16, n=3)
        cand = minhash_lsh_pairs(sigs, "doc_id", bands=8)
        cpairs = (
            jaccard_verify(cand, docs, "doc_id", "text", n=3)
            .filter(F.col("jaccard") >= 0.8)
            .select("a", "b")
        )
        comp = connected_components(
            cpairs, nodes=docs.select(F.col("doc_id").alias("node"))
        )
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
        out["clusters"] = comp.join(sizes, "comp").select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("comp")).alias("is_canonical"),
        ).collect()
    with timed("dedup.simhash"):
        docs = load(spark, docs_dir, "documents")
        out["simhash"] = simhash_pairs(docs, "doc_id", "text", max_hamming=3).select(
            "a", "b", F.col("hamming").cast("int").alias("hamming")
        ).collect()
    with timed("dedup.minhash"):
        docs = load(spark, docs_dir, "documents")
        sigs = minhash_signatures(docs, "doc_id", "text", k=16, n=3)
        lsh = minhash_lsh_pairs(sigs, "doc_id", bands=8)
        out["minhash"] = jaccard_verify(lsh, docs, "doc_id", "text", n=3).filter(
            F.col("jaccard") >= 0.8
        ).collect()
    return out, wall


def check_pass(run: Run, out: dict, ref: dict) -> None:
    """Four checked operations per pass."""
    run.attempted += 4
    got = {(r["a"], r["b"]): r["jaccard"] for r in out["ngram"]}
    run.check(got.keys() == ref["ngram"].keys() and all(
        abs(got[p] - ref["ngram"][p]) < 1e-12 for p in got),
        f"ngram_jaccard: {len(got)} pairs vs {len(ref['ngram'])}")
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
           for r in out["clusters"]}
    run.check(got == ref["clusters"], "dedup_clusters differ from exact components")
    got = {(r["a"], r["b"]): r["hamming"] for r in out["simhash"]}
    run.check(got == ref["simhash"],
              f"simhash: {len(got)} pairs vs {len(ref['simhash'])}")
    # LSH: every reported pair is exact; pairs at J >= 0.9 (LSH miss
    # probability < 2e-6) must all be found
    got = {(r["a"], r["b"]): r["jaccard"] for r in out["minhash"]}
    exact = ref["jaccard"]
    run.check(all(p in exact and abs(j - exact[p]) < 1e-12 for p, j in got.items())
              and all(p in got for p, j in exact.items() if j >= 0.9),
              f"minhash_lsh: {len(got)} pairs vs {len(exact)} exact")


def stage(d: str, docs: list[tuple[int, str]]) -> str:
    """Write the corpus as <d>/documents.parquet (one file, one row
    group, the layout of the documents table queries.py reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    pq.write_table(
        pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()),
                  "text": pa.array([t for _, t in docs], pa.string())}),
        os.path.join(d, "documents.parquet"),
    )
    return d


def count_candidates(run: Run, docs_dir: str) -> tuple[int, float]:
    """(shingle candidate pairs, seconds) of the candidate stage of
    dedup_ngram_jaccard, counted on its own after the timed pass."""
    from spider_engine_spark.operators.dedup import shared_shingle_pairs
    from spider_engine_spark.queries import load

    t0 = time.monotonic()
    with run.span("dedup.shingle_pairs"):
        docs = load(run.spark, docs_dir, "documents")
        n = shared_shingle_pairs(docs, "doc_id", "text", n=3, max_df=20).count()
    return n, time.monotonic() - t0


def main(run: Run) -> None:
    from spider_engine_spark.queries import load

    run.start_spark()
    s0 = run.session_state()
    docs = make_corpus(run.seed)
    with run.span("dedup.reference"):
        ref = exact_reference(docs)
    # set-up, SETUPS times: stage the corpus as parquet and read it back
    # through queries.load; setup_s takes the median
    setup = []
    for k in range(SETUPS):
        t = time.monotonic()
        docs_dir = stage(run.path(f"input{k}"), docs)
        n_read = load(run.spark, docs_dir, "documents").count()
        setup.append(time.monotonic() - t)
        run.attempted += 1
        run.check(n_read == len(docs), f"staged {n_read} docs of {len(docs)}")
    setup_s = run.session_s + median(setup)

    # one pass; it also pays the first-run code generation of the four
    # queries
    cpu0, jvm0 = run.cpu_s(), run.jvm_s()
    ts = time.monotonic()
    out, wall = run_pass(run, docs_dir, "0")
    total = time.monotonic() - ts
    cpu = run.cpu_s() - cpu0
    gc_s, jit_s = (b - a for a, b in zip(jvm0, run.jvm_s()))
    check_pass(run, out, ref)
    s1 = run.session_state()
    rss = run.peak_rss_mb()

    n = len(docs)
    n_pairs = len(ref["ngram"])
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (n / total, "1/s"),
    }
    per_layer = {}
    if run.trace:
        # reported, not checked: a change that prunes candidates and
        # keeps the output is an optimisation
        cand, cand_s = count_candidates(run, docs_dir)
        per_layer = {
            "dedup.shingle_pairs_s": (cand_s, "s"),
            "dedup.candidate_pairs": (cand, "count"),
            "dedup.pairs_per_candidate": (n_pairs / max(cand, 1), "ratio"),
            "dedup.ngram_jaccard_s": (wall["dedup.ngram_jaccard"], "s"),
            "dedup.clusters_s": (wall["dedup.clusters"], "s"),
            "dedup.simhash_s": (wall["dedup.simhash"], "s"),
            "dedup.minhash_s": (wall["dedup.minhash"], "s"),
            "session.persisted_rdds_end": (s1[0] - s0[0], "count"),
            "session.storage_mb_end": (s1[1] - s0[1], "MB"),
            "session.peak_rss_mb": (rss, "MB"),
            "session.timed_cpu_s": (cpu, "s"),
            "session.jit_compile_s": (jit_s, "s"),
            "session.gc_s": (gc_s, "s"),
            "trace.timed_s": (total, "s"),
        }
    log(f"corpus_dedup: one pass over {n} docs in {total:.2f}s")
    run.finish(end_to_end, per_layer, {
        "setup_s": (setup_s, "s"),
        "dedup_docs_per_s": (n / total, "docs/s"),
        "peak_rss_mb": (rss, "MB"),
    }, {
        "setup_s": [round(x, 3) for x in setup],
        "docs": n,
        "pairs": {k: len(v) for k, v in ref.items() if k not in ("clusters", "candidates")},
        "candidates": ref["candidates"],
        "call_s": {k: round(v, 3) for k, v in wall.items()},
    })
