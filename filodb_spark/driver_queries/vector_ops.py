"""Driver queries: similarity search over `embeddings`."""

from __future__ import annotations

from pyspark.sql import functions as F

from filodb_spark.operators import similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_ann_bruteforce(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.brute_force_topk(e, q, k=3)


def q_emb_norm_stats(spark, sf_dir):
    e = _emb(spark, sf_dir)
    v = similarity.as_double(F.col("embedding"))
    norms = e.select("label", F.sqrt(similarity.norm_sq(v)).alias("nrm"))
    return norms.groupBy("label").agg(
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.count(F.lit(1)).alias("n"),
    )


def q_ann_ivf(spark, sf_dir):
    # approximate (bucketed) — no SQL oracle; rows-only check
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(e, q, k=3)


def q_ann_ivf_kmeans(spark, sf_dir):
    # k-means-trained IVF (approximate; KMeans fit is partitioning-
    # dependent across environments — rows-only check)
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_kmeans_topk(e, q, k=3)


def q_ann_ivf_portable(spark, sf_dir):
    """Bucketed ANN with the hash-free sign-bit bucket: approximate
    pipeline (assignment, XOR multi-probe, collision join, top-k) —
    reproduced bit-exactly by the SQL oracle."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_topk_portable(e, q, k=3, n_probes=4)


def q_emb_near_dup(spark, sf_dir):
    # embedding-cosine near-duplicate pairs, blocked by label (the
    # within-block exact self-join the 100 TB path runs per LSH bucket)
    e = _emb(spark, sf_dir)
    return similarity.cosine_near_dup_pairs(e, 0.1, block_col="label")


SEMDEDUP_THRESHOLD = 0.55


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style keep/drop per vector (lower-id-wins within the
    portable sign-bit bucket) — exact SQL oracle."""
    e = _emb(spark, sf_dir)
    return similarity.semantic_dedup(e, threshold=SEMDEDUP_THRESHOLD)


def q_emb_outliers(spark, sf_dir):
    """Per-bucket centroid-distance z-scores — mis-embedded-sample
    screening; exact SQL oracle."""
    return similarity.embedding_outliers(_emb(spark, sf_dir))


def q_ann_recall(spark, sf_dir):
    """Recall@3 of the portable IVF against the exact brute force —
    index-quality measurement as a first-class engine query (both sides
    deterministic, so the recall itself has an exact oracle)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(e, q, k=3)
    approx = similarity.ivf_topk_portable(e, q, k=3, n_probes=4)
    return similarity.topk_recall(approx, exact)


def q_emb_kmeans(spark, sf_dir):
    """Deterministic Lloyd's k-means assignment (seeded by lowest ids,
    2 rounds) — exact SQL oracle unrolls the same two rounds."""
    return similarity.kmeans_portable(_emb(spark, sf_dir), k=4, iterations=2)


def q_emb_kmeans_summary(spark, sf_dir):
    """Per-cluster size + inertia of the deterministic k-means — the
    cluster-balance report a curation pipeline reads before sampling."""
    a = similarity.kmeans_portable(_emb(spark, sf_dir), k=4, iterations=2)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("dist2"), 3).alias("inertia"),
        F.round(F.avg("dist2"), 6).alias("avg_dist2"))


def q_ann_filtered(spark, sf_dir):
    """Filtered vector search: top-3 neighbors restricted to a metadata
    predicate (label = 3) — the filter composes into the scan, so the
    candidate set shrinks BEFORE the distance math (predicate-then-rank,
    not rank-then-filter)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.brute_force_topk(e.where(F.col("label") == 3), q, k=3)


RECALL_CURVE_PROBES = (1, 2, 4, 7)


def q_ann_recall_curve(spark, sf_dir):
    """Mean recall@3 of the portable IVF at 1/2/4/7 probes against the
    exact brute force — the probes-vs-recall trade curve, computed
    in-engine so index tuning reads from the same query surface.
    The exact side is localCheckpoint'ed once and shared by all four
    probe settings (freed with the frame, no cache leak)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(e, q, k=3) \
        .localCheckpoint(eager=True)
    out = None
    for p in RECALL_CURVE_PROBES:
        approx = similarity.ivf_topk_portable(e, q, k=3, n_probes=p)
        r = similarity.topk_recall(approx, exact).agg(
            F.lit(p).cast("long").alias("n_probes"),
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.count(F.lit(1)).cast("long").alias("n_queries"))
        out = r if out is None else out.unionByName(r)
    return out


def q_emb_pq(spark, sf_dir):
    """Product-quantization codes (4 subspaces x 4 codes, deterministic
    lowest-id codebook) + per-row reconstruction error. The operator's
    ``codes array<int>`` is CSV-stringified for the driver canonicalizer
    (round-3 verdict: pandas factorize cannot hash list cells)."""
    out = similarity.pq_encode(_emb(spark, sf_dir), m=4, k=4)
    return out.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")),
                     ",").alias("codes_csv"),
        "err2")


def q_ann_pq_recall(spark, sf_dir):
    """Recall@3 of ADC search against the exact L2 baseline — the
    quantization-loss measurement in the metric PQ ranks by (both
    sides deterministic, recall itself exactly oracled)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk_l2(e, q, k=3)
    approx = similarity.pq_topk(e, q, k=3, m=4, n_codes=4)
    return similarity.topk_recall(approx, exact)


def q_ann_pq_topk(spark, sf_dir):
    """ADC search over PQ codes: per-query LUT + m-lookup distances,
    ranked — the compressed-domain approximate top-k."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.pq_topk(e, q, k=3, m=4, n_codes=4)


IVFPQ_PROBES = 4


def q_ann_ivfpq_topk(spark, sf_dir):
    """The composed IVF x PQ index (r3 verdict item 3): sign-bucket
    probes choose the candidates, ADC over PQ codes ranks them — the
    billion-scale two-layer shape, fully oracle-exact."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivfpq_topk(e, q, k=3, m=4, n_codes=4,
                                 n_probes=IVFPQ_PROBES)


def q_ann_ivfpq_recall(spark, sf_dir):
    """Recall@3 of the composed IVF x PQ search against the exact L2
    baseline — the combined coarse-filter + quantization loss in one
    number (compare ann_pq_recall for PQ-only loss)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk_l2(e, q, k=3)
    approx = similarity.ivfpq_topk(e, q, k=3, m=4, n_codes=4,
                                   n_probes=IVFPQ_PROBES)
    return similarity.topk_recall(approx, exact)


def q_ann_ivfpq_stored(spark, sf_dir):
    """The stored-index lifecycle end to end (r4 verdict item 5):
    ivfpq_index -> bucketed catalog table (ivfpq_write_index) -> read
    back pre-filtered to the queries' probe buckets (computed up front
    via sign_probe_buckets, so the literal IN-filter bucket-prunes the
    files — SelectedBucketsCount asserted in tests/test_plans.py) ->
    ivfpq_topk(index=...). Results are identical to the direct search,
    so the oracle is ann_ivfpq_topk's — what's under test is that the
    parquet round trip + probe pre-filter preserve them exactly.
    The probe-list collect is |Q| x n_probes ints of driver state (the
    query-router footprint, not a data-path collect)."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    tbl = "ivfpq_stored_" + "".join(
        c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    similarity.ivfpq_write_index(similarity.ivfpq_index(e), tbl)
    probe_ids = sorted({b for r in q.select(
        similarity.sign_probe_buckets("embedding", IVFPQ_PROBES)
        .alias("p")).collect() for b in r["p"]})
    stored = similarity.ivfpq_read_index(spark, tbl,
                                         probe_buckets=probe_ids)
    return similarity.ivfpq_topk(e, q, k=3, m=4, n_codes=4,
                                 n_probes=IVFPQ_PROBES, index=stored)


IVFPQ_KMEANS = dict(m=4, n_codes=4, n_buckets=16, iterations=2,
                    n_probes=1)   # fraction ~1/16 == sign-hash 4/64


def q_ann_ivfpq_kmeans(spark, sf_dir):
    """IVF x PQ over TRAINED coarse buckets (r4 verdict item 2):
    deterministic portable k-means clusters replace the sign-hash
    cells at the same candidate fraction (1/16) — measured recall@3
    lift ~4-5x (PERF.md). Exact oracle:
    the SQL twin unrolls the Lloyd's rounds, probe ranking, PQ
    encode and ADC bit-for-bit."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivfpq_kmeans_topk(e, q, k=3, **IVFPQ_KMEANS)


def q_ann_ivfpq_kmeans_recall(spark, sf_dir):
    """Recall@3 of the trained-bucket IVF x PQ against the exact L2
    baseline — compare ann_ivfpq_recall (sign-hash buckets, equal
    candidate fraction) for the training lift."""
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk_l2(e, q, k=3)
    approx = similarity.ivfpq_kmeans_topk(e, q, k=3, **IVFPQ_KMEANS)
    return similarity.topk_recall(approx, exact)


QUERIES = {
    "ann_bruteforce": q_ann_bruteforce,
    "ann_ivfpq_kmeans": q_ann_ivfpq_kmeans,
    "ann_ivfpq_kmeans_recall": q_ann_ivfpq_kmeans_recall,
    "ann_ivfpq_stored": q_ann_ivfpq_stored,
    "emb_pq": q_emb_pq,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_recall": q_ann_pq_recall,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_recall": q_ann_ivfpq_recall,
    "emb_kmeans": q_emb_kmeans,
    "emb_kmeans_summary": q_emb_kmeans_summary,
    "ann_filtered": q_ann_filtered,
    "ann_recall_curve": q_ann_recall_curve,
    "emb_semantic_dedup": q_emb_semantic_dedup,
    "emb_outliers": q_emb_outliers,
    "ann_recall": q_ann_recall,
    "emb_near_dup": q_emb_near_dup,
    "emb_norm_stats": q_emb_norm_stats,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_portable": q_ann_ivf_portable,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
}

ORACLES = {
    "emb_outliers": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
  FROM e
),
comp AS (
  SELECT vec_id, bucket, c.pos AS pos, c.x AS x
  FROM (SELECT vec_id, bucket,
               unnest(list_transform(range(1, len(v) + 1),
                                     i -> {'pos': i, 'x': v[i]})) AS c
        FROM b)
),
cent AS (SELECT bucket, pos, avg(x) AS mu FROM comp GROUP BY 1, 2),
dist AS (
  SELECT vec_id, bucket, sqrt(sum((x - mu) * (x - mu))) AS d
  FROM comp JOIN cent USING (bucket, pos) GROUP BY 1, 2
),
st AS (SELECT bucket, avg(d) AS m, stddev_samp(d) AS s
       FROM dist GROUP BY 1)
SELECT vec_id, bucket, round(d, 6) AS dist,
       round(CASE WHEN s > 0 THEN (d - m) / s END, 6) AS z,
       coalesce(round(CASE WHEN s > 0 THEN (d - m) / s END, 6) >= 2.0,
                false) AS is_outlier
FROM dist JOIN st USING (bucket)""",
    "emb_semantic_dedup": f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
  FROM e
),
dups AS (
  SELECT b2.vec_id AS vec_id, min(b1.vec_id) AS dup_of
  FROM b b1 JOIN b b2 ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
  WHERE round(list_inner_product(b1.v, b2.v) /
              (sqrt(list_inner_product(b1.v, b1.v)) *
               sqrt(list_inner_product(b2.v, b2.v))), 6)
        >= {SEMDEDUP_THRESHOLD}
  GROUP BY b2.vec_id
)
SELECT e.vec_id, dup_of IS NULL AS keep, dup_of
FROM e LEFT JOIN dups USING (vec_id)""",
    "emb_near_dup": """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS d1, b.vec_id AS d2,
       round(list_inner_product(a.v, b.v) /
             (sqrt(list_inner_product(a.v, a.v)) *
              sqrt(list_inner_product(b.v, b.v))), 6) AS sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.v, b.v) /
            (sqrt(list_inner_product(a.v, a.v)) *
             sqrt(list_inner_product(b.v, b.v))), 6) >= 0.1""",
    "ann_bruteforce": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         round(list_inner_product(q.qv, e.v) /
               (sqrt(list_inner_product(q.qv, q.qv)) *
                sqrt(list_inner_product(e.v, e.v))), 6) AS sim
  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, rank, sim FROM rk WHERE rank <= 3""",
    "ann_ivf_portable": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
  FROM e
),
q AS (
  SELECT vec_id AS qid, v AS qv,
         unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4)])
           AS bucket
  FROM b WHERE vec_id < 10
),
pairs AS (
  SELECT q.qid, b.vec_id AS nid,
         round(list_inner_product(q.qv, b.v) /
               (sqrt(list_inner_product(q.qv, q.qv)) *
                sqrt(list_inner_product(b.v, b.v))), 6) AS sim
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, rank, sim FROM rk WHERE rank <= 3""",
    "emb_norm_stats": """
WITH n AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT label, round(avg(nrm), 6) AS avg_norm, round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm, count(*) AS n
FROM n GROUP BY label""",
}

def _kmeans_portable_sql(k: int = 4, iterations: int = 2,
                         round_to: int = 6) -> str:
    """Unrolled Lloyd's rounds mirroring similarity.kmeans_portable
    bit-for-bit: same seeds (k lowest ids, components rounded), same
    inner-product distance decomposition (sequential folds on both
    engines), same per-round centroid rounding, same (d2, cluster)
    tie-break."""
    def assign(i: int, cent: str) -> str:
        return f"""
a{i} AS (
  SELECT vid, v, cluster, d2 FROM (
    SELECT e.vid, e.v, s.cluster,
           list_inner_product(e.v, e.v) - 2 * list_inner_product(e.v, s.c)
             + list_inner_product(s.c, s.c) AS d2,
           row_number() OVER (
             PARTITION BY e.vid
             ORDER BY list_inner_product(e.v, e.v)
                      - 2 * list_inner_product(e.v, s.c)
                      + list_inner_product(s.c, s.c), s.cluster) AS rk
    FROM e CROSS JOIN {cent} s)
  WHERE rk = 1
)"""

    def update(i: int, members: str) -> str:
        return f"""
c{i} AS (
  SELECT cluster, list(mu ORDER BY pos) AS c
  FROM (
    SELECT cluster, u.pos AS pos, round(avg(u.x), {round_to}) AS mu
    FROM (SELECT cluster,
                 unnest(list_transform(range(1, len(v) + 1),
                                       i -> {{'pos': i, 'x': v[i]}})) AS u
          FROM {members})
    GROUP BY cluster, u.pos)
  GROUP BY cluster
)"""

    parts = [f"""
WITH e AS (
  SELECT vec_id AS vid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vid) - 1 AS cluster,
         list_transform(v, x -> round(x, {round_to})) AS c
  FROM (SELECT vid, v FROM e ORDER BY vid LIMIT {k})
)"""]
    for i in range(iterations):
        parts.append("," + assign(i, f"c{i}"))
        parts.append("," + update(i + 1, f"a{i}"))
    parts.append("," + assign(iterations, f"c{iterations}"))
    parts.append(f"""
SELECT vid AS vec_id, cluster, round(d2, {round_to}) AS dist2
FROM a{iterations}""")
    return "".join(parts)


ORACLES["emb_kmeans"] = _kmeans_portable_sql()

ORACLES["emb_kmeans_summary"] = f"""
WITH asg AS ({_kmeans_portable_sql()})
SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       round(sum(dist2), 3) AS inertia,
       round(avg(dist2), 6) AS avg_dist2
FROM asg GROUP BY cluster"""

ORACLES["ann_filtered"] = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         round(list_inner_product(q.qv, e.v) /
               (sqrt(list_inner_product(q.qv, q.qv)) *
                sqrt(list_inner_product(e.v, e.v))), 6) AS sim
  FROM e CROSS JOIN q WHERE e.label = 3 AND e.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, rank, sim FROM rk WHERE rank <= 3"""

# composition: both constituent oracles nested as sub-CTEs — the recall
# of a deterministic approximate search is itself exactly checkable
ORACLES["ann_recall"] = f"""
WITH ex AS (SELECT * FROM ({ORACLES['ann_bruteforce']}) t1),
ap AS (SELECT * FROM ({ORACLES['ann_ivf_portable']}) t2)
SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(ap.nid) AS BIGINT) AS n_hit,
       round(count(ap.nid) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
GROUP BY ex.qid"""


def _ivf_portable_sql(n_probes: int = 4) -> str:
    """ann_ivf_portable's oracle parameterized by probe count: probe p
    XOR-flips bit p-1 (p=0 is the identity), mirroring
    similarity.ivf_topk_portable bit-for-bit."""
    masks = ["bucket"] + [f"xor(bucket, {1 << (p - 1)})"
                          for p in range(1, n_probes)]
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN v[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN v[6] > 0 THEN 32 ELSE 0 END) AS bucket
  FROM e
),
q AS (
  SELECT vec_id AS qid, v AS qv,
         unnest([{', '.join(masks)}]) AS bucket
  FROM b WHERE vec_id < 10
),
pairs AS (
  SELECT q.qid, b.vec_id AS nid,
         round(list_inner_product(q.qv, b.v) /
               (sqrt(list_inner_product(q.qv, q.qv)) *
                sqrt(list_inner_product(b.v, b.v))), 6) AS sim
  FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs
)
SELECT qid, nid, rank, sim FROM rk WHERE rank <= 3"""


_curve_parts = []
for _p in RECALL_CURVE_PROBES:
    _curve_parts.append(f"""
SELECT CAST({_p} AS BIGINT) AS n_probes,
       round(avg(recall), 6) AS mean_recall,
       CAST(count(*) AS BIGINT) AS n_queries
FROM (
  SELECT ex.qid,
         round(count(ap.nid) / CAST(count(*) AS DOUBLE), 6) AS recall
  FROM ({ORACLES['ann_bruteforce']}) ex
  LEFT JOIN ({_ivf_portable_sql(_p)}) ap
    ON ex.qid = ap.qid AND ex.nid = ap.nid
  GROUP BY ex.qid
) r{_p}""")
ORACLES["ann_recall_curve"] = "\nUNION ALL\n".join(_curve_parts)


def _pq_sql(m: int = 4, k: int = 4, dim: int = 64) -> str:
    """pq_encode's oracle: per-subspace nearest-codebook assignment on
    list slices, same inner-product distance decomposition and
    (d2, code) tie-break as the Spark side."""
    sub = dim // m
    parts = [f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cb AS (
  SELECT row_number() OVER (ORDER BY vid) - 1 AS code,
         list_transform(v, x -> round(x, 6)) AS c
  FROM (SELECT vec_id AS vid, v FROM e ORDER BY vec_id LIMIT {k})
)"""]
    joins = []
    for j in range(m):
        a, b = j * sub + 1, (j + 1) * sub
        parts.append(f""",
best{j} AS (
  SELECT vec_id, code AS c{j}, d2 AS d{j} FROM (
    SELECT e.vec_id, cb.code,
           list_inner_product(e.v[{a}:{b}], e.v[{a}:{b}])
             - 2 * list_inner_product(e.v[{a}:{b}], cb.c[{a}:{b}])
             + list_inner_product(cb.c[{a}:{b}], cb.c[{a}:{b}]) AS d2,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.v[{a}:{b}], e.v[{a}:{b}])
                      - 2 * list_inner_product(e.v[{a}:{b}], cb.c[{a}:{b}])
                      + list_inner_product(cb.c[{a}:{b}], cb.c[{a}:{b}]),
                      cb.code) AS rk
    FROM e CROSS JOIN cb)
  WHERE rk = 1
)""")
        joins.append(f"best{j}")
    codes = ", ".join(f"c{j}" for j in range(m))
    errs = " + ".join(f"d{j}" for j in range(m))
    frm = joins[0] + "".join(f" JOIN {t} USING (vec_id)"
                             for t in joins[1:])
    parts.append(f"""
SELECT vec_id, array_to_string([{codes}], ',') AS codes_csv,
       round({errs}, 6) AS err2
FROM {frm}""")
    return "".join(parts)


def _pq_adc_sql(m: int = 4, k: int = 4, dim: int = 64,
                topk: int = 3, n_probes: int | None = None) -> str:
    """pq_topk's oracle: corpus codes via the same per-subspace argmin
    CTEs, then per (query, candidate) the LUT-sum distance — each
    subspace distance recomputed from the codebook row the candidate's
    code selects (d0 + d1 + ... left-associated, matching the Spark
    fold's zero-seeded sum exactly).

    With n_probes set this becomes ivfpq_topk's oracle: candidates are
    restricted to the query's XOR multi-probe sign-bit buckets (the
    same hash-free bucket as ann_ivf_portable) before the ADC math."""
    sub = dim // m
    base = _pq_sql(m, k, dim)
    # strip the final SELECT of _pq_sql; keep its WITH chain
    with_part = base[:base.rindex("\nSELECT vec_id,")]
    codes_sel = ", ".join(f"best{j}.c{j} AS c{j}" for j in range(m))
    codes_frm = "best0" + "".join(f" JOIN best{j} USING (vec_id)"
                                  for j in range(1, m))
    dterms = []
    cbjoins = []
    for j in range(m):
        a, b = j * sub + 1, (j + 1) * sub
        cbjoins.append(f" JOIN cb cb{j} ON cb{j}.code = n.c{j}")
        dterms.append(
            f"list_inner_product(q.qv[{a}:{b}], q.qv[{a}:{b}])"
            f" - 2 * list_inner_product(q.qv[{a}:{b}], cb{j}.c[{a}:{b}])"
            f" + list_inner_product(cb{j}.c[{a}:{b}], cb{j}.c[{a}:{b}])")
    if n_probes is None:
        qsrc = """
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),"""
        cand = f"FROM q CROSS JOIN codes n{''.join(cbjoins)}"
    else:
        bucket_expr = " + ".join(
            f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(6))
        probe_list = ", ".join(
            "qb" if p == 0 else f"xor(qb, {1 << (p - 1)})"
            for p in range(n_probes))
        qsrc = f"""
bk AS (SELECT vec_id, {bucket_expr} AS bucket FROM e),
q0 AS (SELECT e.vec_id AS qid, e.v AS qv, bk.bucket AS qb
       FROM e JOIN bk USING (vec_id) WHERE e.vec_id < 10),
q AS (SELECT qid, qv, unnest([{probe_list}]) AS bucket FROM q0),"""
        cand = (f"FROM q JOIN bk nb ON nb.bucket = q.bucket "
                f"JOIN codes n ON n.vec_id = nb.vec_id"
                f"{''.join(cbjoins)}")
    return with_part + f""",
codes AS (SELECT best0.vec_id, {codes_sel} FROM {codes_frm}),{qsrc}
scored AS (
  SELECT q.qid, n.vec_id AS nid,
         round({" + ".join(dterms)}, 6) AS adist2
  {cand}
  WHERE n.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, adist2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adist2, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, adist2 FROM rk WHERE rank <= {topk}"""


ORACLES["emb_pq"] = _pq_sql()
ORACLES["ann_pq_topk"] = _pq_adc_sql()

_L2_EXACT = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         round(list_inner_product(q.qv, q.qv)
               - 2 * list_inner_product(q.qv, e.v)
               + list_inner_product(e.v, e.v), 6) AS dist2
  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
),
rk AS (
  SELECT qid, nid, dist2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist2, nid) AS rank
  FROM pairs
)
SELECT qid, nid, rank, dist2 FROM rk WHERE rank <= 3"""

ORACLES["ann_pq_recall"] = f"""
SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(ap.nid) AS BIGINT) AS n_hit,
       round(count(ap.nid) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ({_L2_EXACT}) ex
LEFT JOIN ({_pq_adc_sql()}) ap
  ON ex.qid = ap.qid AND ex.nid = ap.nid
GROUP BY ex.qid"""

def _ivfpq_kmeans_sql(K: int = 16, iterations: int = 2, m: int = 4,
                      n_codes: int = 4, n_probes: int = 1,
                      topk: int = 3, dim: int = 64) -> str:
    """ivfpq_kmeans_topk's oracle: _pq_sql's codebook/encode chain plus
    the unrolled deterministic Lloyd's rounds (same pattern as
    _kmeans_portable_sql, renamed ke/kc*/ka* to coexist with the PQ
    CTEs), nearest-n_probes centroid probing per query by the same
    (d2, cluster) order, candidates joined on cluster, ADC-scored."""
    sub = dim // m
    base = _pq_sql(m, n_codes, dim)
    with_part = base[:base.rindex("\nSELECT vec_id,")]

    def kassign(i: int, cent: str) -> str:
        return f""",
ka{i} AS (
  SELECT vid, v, cluster FROM (
    SELECT ke.vid, ke.v, s.cluster,
           row_number() OVER (
             PARTITION BY ke.vid
             ORDER BY list_inner_product(ke.v, ke.v)
                      - 2 * list_inner_product(ke.v, s.c)
                      + list_inner_product(s.c, s.c), s.cluster) AS rk
    FROM ke CROSS JOIN {cent} s)
  WHERE rk = 1
)"""

    def kupdate(i: int, members: str) -> str:
        return f""",
kc{i} AS (
  SELECT cluster, list(mu ORDER BY pos) AS c
  FROM (
    SELECT cluster, u.pos AS pos, round(avg(u.x), 6) AS mu
    FROM (SELECT cluster,
                 unnest(list_transform(range(1, len(v) + 1),
                                       i -> {{'pos': i, 'x': v[i]}})) AS u
          FROM {members})
    GROUP BY cluster, u.pos)
  GROUP BY cluster
)"""

    parts = [with_part, f""",
ke AS (SELECT vec_id AS vid, v FROM e),
kc0 AS (
  SELECT row_number() OVER (ORDER BY vid) - 1 AS cluster,
         list_transform(v, x -> round(x, 6)) AS c
  FROM (SELECT vid, v FROM ke ORDER BY vid LIMIT {K})
)"""]
    for i in range(iterations):
        parts.append(kassign(i, f"kc{i}"))
        parts.append(kupdate(i + 1, f"ka{i}"))
    parts.append(kassign(iterations, f"kc{iterations}"))
    codes_sel = ", ".join(f"best{j}.c{j} AS c{j}" for j in range(m))
    codes_frm = "best0" + "".join(f" JOIN best{j} USING (vec_id)"
                                  for j in range(1, m))
    dterms, cbjoins = [], []
    for j in range(m):
        a, b = j * sub + 1, (j + 1) * sub
        cbjoins.append(f" JOIN cb cb{j} ON cb{j}.code = n.c{j}")
        dterms.append(
            f"list_inner_product(qv.qv[{a}:{b}], qv.qv[{a}:{b}])"
            f" - 2 * list_inner_product(qv.qv[{a}:{b}], cb{j}.c[{a}:{b}])"
            f" + list_inner_product(cb{j}.c[{a}:{b}], cb{j}.c[{a}:{b}])")
    parts.append(f""",
codes AS (SELECT best0.vec_id, {codes_sel} FROM {codes_frm}),
qp AS (
  SELECT vid AS qid, cluster FROM (
    SELECT ke.vid, s.cluster,
           row_number() OVER (
             PARTITION BY ke.vid
             ORDER BY list_inner_product(ke.v, ke.v)
                      - 2 * list_inner_product(ke.v, s.c)
                      + list_inner_product(s.c, s.c), s.cluster) AS rk
    FROM ke CROSS JOIN kc{iterations} s WHERE ke.vid < 10)
  WHERE rk <= {n_probes}
),
qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT qp.qid, af.vid AS nid,
         round({" + ".join(dterms)}, 6) AS adist2
  FROM qp JOIN ka{iterations} af ON af.cluster = qp.cluster
       JOIN qv ON qv.qid = qp.qid
       JOIN codes n ON n.vec_id = af.vid{''.join(cbjoins)}
  WHERE af.vid <> qp.qid
),
rk AS (
  SELECT qid, nid, adist2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adist2, nid) AS rank
  FROM scored
)
SELECT qid, nid, rank, adist2 FROM rk WHERE rank <= {topk}""")
    return "".join(parts)


ORACLES["ann_ivfpq_kmeans"] = _ivfpq_kmeans_sql(
    K=IVFPQ_KMEANS["n_buckets"], iterations=IVFPQ_KMEANS["iterations"],
    m=IVFPQ_KMEANS["m"], n_codes=IVFPQ_KMEANS["n_codes"],
    n_probes=IVFPQ_KMEANS["n_probes"])

ORACLES["ann_ivfpq_kmeans_recall"] = f"""
SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(ap.nid) AS BIGINT) AS n_hit,
       round(count(ap.nid) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ({_L2_EXACT}) ex
LEFT JOIN ({ORACLES["ann_ivfpq_kmeans"]}) ap
  ON ex.qid = ap.qid AND ex.nid = ap.nid
GROUP BY ex.qid"""

ORACLES["ann_ivfpq_topk"] = _pq_adc_sql(n_probes=IVFPQ_PROBES)
# the stored-index round trip must reproduce the direct search exactly
ORACLES["ann_ivfpq_stored"] = ORACLES["ann_ivfpq_topk"]
ORACLES["ann_ivfpq_recall"] = f"""
SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(ap.nid) AS BIGINT) AS n_hit,
       round(count(ap.nid) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM ({_L2_EXACT}) ex
LEFT JOIN ({_pq_adc_sql(n_probes=IVFPQ_PROBES)}) ap
  ON ex.qid = ap.qid AND ex.nid = ap.nid
GROUP BY ex.qid"""
