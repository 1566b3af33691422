"""The driver_queries / operators layer on a seeded mini fixture.

The registry queries read their inputs from a fixture directory
(``documents.parquet``, ``embeddings.parquet``). This module writes a
small one from the seed under the run's work directory and runs the
``bench.HEADLINE`` queries that read only those two tables (exact dedup,
MinHash-LSH near-dup pairs, brute-force cosine top-k) through
``driver_queries.all_queries``, in passes. Every pass must give the
first pass's rows; exact dedup and top-k are also checked against a
Python oracle.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

from bench import HEADLINE

QUERIES = tuple(q for q in HEADLINE if q.startswith(("doc_", "ann_")))
PASSES = 3
N_DOCS, N_VECS, DIM = 240, 400, 16
WORDS = [f"w{i}" for i in range(60)]


def write_fixture(root: str, seed: int) -> None:
    """documents: every 8th doc repeats an earlier one exactly, every 8th
    (offset 4) repeats one with a single word changed; embeddings:
    float32 vectors with a label."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    texts: list[str] = []
    for d in range(N_DOCS):
        if d >= 8 and d % 8 == 0:
            texts.append(texts[rng.randrange(d)])
        elif d >= 8 and d % 8 == 4:
            words = texts[rng.randrange(d)].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(40)))
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(range(N_DOCS), pa.int64()),
                             "text": texts}),
                   os.path.join(root, "documents.parquet"))
    vecs = np.random.default_rng(seed).standard_normal(
        (N_VECS, DIM)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": [f"l{i % 5}" for i in range(N_VECS)]}),
        os.path.join(root, "embeddings.parquet"))


def _fold_dot(a, b) -> float:
    """Dot product in the engine's order (sequential left fold)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def oracle(root: str, name: str):
    """Expected rows of ``name`` (sorted), or None when it has no oracle
    here (MinHash-LSH is approximate)."""
    import pyarrow.parquet as pq
    if name == "doc_dedup_exact":
        t = pq.read_table(os.path.join(root, "documents.parquet")).to_pydict()
        groups: dict = {}
        for d, text in zip(t["doc_id"], t["text"]):
            groups.setdefault(text, []).append(d)
        return sorted((min(ids), len(ids)) for ids in groups.values())
    if name == "ann_bruteforce":
        t = pq.read_table(os.path.join(root, "embeddings.parquet")).to_pydict()
        vecs = dict(zip(t["vec_id"], t["embedding"]))
        norms = {i: _fold_dot(v, v) ** 0.5 for i, v in vecs.items()}
        out = []
        for q in (i for i in vecs if i < 10):
            sims = sorted((-round(_fold_dot(vecs[q], v) / (norms[q] * norms[n]),
                                  6), n) for n, v in vecs.items() if n != q)
            out += [(q, n, r + 1, -s) for r, (s, n) in enumerate(sims[:3])]
        return sorted(out)
    return None


def _same(got: list, want: list) -> bool:
    """Rows equal, floats within the last rounded digit."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(
            abs(a - b) <= 1.5e-6 if isinstance(a, float) else a == b
            for a, b in zip(g, w))
        for g, w in zip(got, want))


def run(spark, root: str, seed: int) -> tuple[dict, list[str]]:
    """Write the mini fixture and make ``PASSES`` passes over the
    queries. Returns (metrics, failures)."""
    from filodb_spark.driver_queries import all_queries
    write_fixture(root, seed)
    registry, _oracles = all_queries()
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    ms: dict = {q: [] for q in QUERIES}
    ref: dict = {}
    failures: list[str] = []
    jobs = []
    for p in range(PASSES):
        group = f"perfbench-pipeline-{p}"
        sc.setJobGroup(group, "pipeline pass")
        for q in QUERIES:
            t0 = time.perf_counter()
            rows = registry[q](spark, root).collect()
            ms[q].append((time.perf_counter() - t0) * 1000)
            rows = sorted(tuple(r) for r in rows)
            if p == 0:
                ref[q] = rows
                want = oracle(root, q)
                if want is not None and not _same(rows, want):
                    failures.append(f"pipeline {q}: differs from the oracle")
                if not rows:
                    failures.append(f"pipeline {q}: no rows")
            elif rows != ref[q]:
                failures.append(f"pipeline {q}: pass {p} differs from pass 0")
        jsc.listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    sc.setLocalProperty("spark.jobGroup.id", None)
    metrics = {f"driver_queries.{q}_ms": statistics.median(v)
               for q, v in ms.items()}
    metrics["driver_queries.jobs_per_pass"] = statistics.median(jobs)
    return metrics, failures
