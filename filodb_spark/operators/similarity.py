"""Similarity search over embedding columns.

- Brute-force cosine top-k: query set broadcast against the corpus; dot
  products as JVM-side array folds (zip_with + aggregate). This is the
  exact baseline — O(|Q| x N), fine when |Q| is small or as the
  per-bucket step below.
- IVF-style bucketed ANN, two bucket schemes: (a) sign-hash LSH with
  multi-probe (one-bit flips) — zero training cost; (b) k-means-trained
  centroids (Spark MLlib fit on normalized vectors, spherical-k-means
  geometry) with nearest-n-probes assignment — higher recall at the
  same probe fraction. Queries scan only their probed buckets:
  sub-linear at scale, approximate recall (measured on the fixture:
  sign-hash 0.07/0.19/0.30 vs k-means 0.25/0.44/0.59 recall@3 at
  1/4/7-8 probes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order — oracle-parity)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_sq(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 6) -> DataFrame:
    """Exact cosine top-k: (qid, nid, rank, sim). Queries are broadcast;
    ranking is deterministic (rounded sim desc, then neighbor id).

    Norms are folded ONCE per side before the cross join (r13): the
    per-pair work drops from three array folds to one, and the fold
    order is unchanged so the doubles are bit-identical to the inline
    cosine()."""
    c = corpus.select(F.col(id_col).alias("nid"),
                      as_double(F.col(vec_col)).alias("nv")) \
              .withColumn("_nn", F.sqrt(norm_sq(F.col("nv"))))
    q = queries.select(F.col(id_col).alias("qid"),
                       as_double(F.col(vec_col)).alias("qv")) \
               .withColumn("_nq", F.sqrt(norm_sq(F.col("qv"))))
    sim = dot(F.col("qv"), F.col("nv")) / (F.col("_nq") * F.col("_nn"))
    pairs = (c.crossJoin(broadcast(q))
              .where(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      F.round(sim, round_to).alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("qid", "nid", "rank", "sim"))


def brute_force_topk_l2(corpus: DataFrame, queries: DataFrame, k: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        round_to: int = 6) -> DataFrame:
    """Exact squared-L2 top-k — the exact baseline in the METRIC the PQ
    path ranks by (cosine and L2 order differently on unnormalized
    vectors, so measuring pq_topk's recall against the cosine baseline
    would conflate quantization loss with metric mismatch).
    Output: (qid, nid, rank, dist2) — same shape as every *_topk."""
    c = corpus.select(F.col(id_col).alias("nid"),
                      as_double(F.col(vec_col)).alias("nv")) \
              .withColumn("_nn2", norm_sq(F.col("nv")))
    q = queries.select(F.col(id_col).alias("qid"),
                       as_double(F.col(vec_col)).alias("qv")) \
               .withColumn("_nq2", norm_sq(F.col("qv")))
    # inner-product decomposition, not a difference-square fold: the
    # SQL oracle's sequential list_inner_product reproduces these three
    # folds bit-for-bit (same parity trick as the k-means/PQ paths);
    # the norm folds run once per side pre-join (r13) — same fold
    # order, bit-identical doubles, a third of the per-pair work
    d2 = (F.col("_nq2") - 2.0 * dot(F.col("qv"), F.col("nv"))
          + F.col("_nn2"))
    pairs = (c.crossJoin(broadcast(q))
             .where(F.col("nid") != F.col("qid"))
             .select("qid", "nid", F.round(d2, round_to).alias("dist2")))
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(),
                                          F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "rank", "dist2"))


def rerank_exact(corpus: DataFrame, queries: DataFrame,
                 candidates: DataFrame, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_to: int = 6) -> DataFrame:
    """Exact squared-L2 re-rank of an ANN candidate stream — the final
    stage every production ANN stack (FAISS et al.) bolts onto its
    IVF x PQ pipeline: the coarse+ADC layers decide WHICH ~R candidates
    per query are worth a full distance, this stage ranks those exactly
    so the ADC quantization ceiling disappears from the top-k.

    candidates: any (qid, nid, ...) frame (an *_topk result searched
    with a generous k, e.g. 10-50x the final k). The join back to raw
    vectors touches candidate rows only — never all pairs — so the
    shuffled volume is |Q| x R vectors, independent of corpus size.
    Same fold orders as brute_force_topk_l2, so on identical candidate
    sets the two rank identically (SQL-oracle-parity preserved).
    Output: (qid, nid, rank, dist2) — the *_topk contract."""
    c = corpus.select(F.col(id_col).alias("nid"),
                      as_double(F.col(vec_col)).alias("nv")) \
              .withColumn("_nn2", norm_sq(F.col("nv")))
    q = queries.select(F.col(id_col).alias("qid"),
                       as_double(F.col(vec_col)).alias("qv")) \
               .withColumn("_nq2", norm_sq(F.col("qv")))
    cand = candidates.select("qid", "nid").distinct()
    pairs = (cand.join(c, "nid").join(broadcast(q), "qid")
             .where(F.col("nid") != F.col("qid")))
    # norms folded once per side pre-join (r13) — same fold order as
    # brute_force_topk_l2, bit-identical doubles
    d2 = (F.col("_nq2") - 2.0 * dot(F.col("qv"), F.col("nv"))
          + F.col("_nn2"))
    scored = pairs.select("qid", "nid",
                          F.round(d2, round_to).alias("dist2"))
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(),
                                          F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "rank", "dist2"))


_SIGN_BITS = 6


def _signs(vec_col: str) -> Column:
    v = as_double(F.col(vec_col))
    return F.transform(F.slice(v, 1, _SIGN_BITS),
                       lambda x: F.when(x > 0, 1).otherwise(0))


def _bucket_of(signs: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.concat_ws(",", signs.cast("array<string>"))),
                  F.lit(n_buckets))


def ivf_assign(df: DataFrame, n_buckets: int = 64,
               vec_col: str = "embedding") -> DataFrame:
    """Coarse bucket assignment: hash of the signs of the first 6
    components (cheap LSH-style random-hyperplane stand-in; a production
    fit would use k-means centroids trained on a sample)."""
    return df.withColumn("bucket", _bucket_of(_signs(vec_col), n_buckets))


def ivf_probe_buckets(vec_col: str, n_buckets: int,
                      n_probes: int) -> Column:
    """Multi-probe LSH bucket list for a query vector: its own bucket
    plus the buckets of one-bit-flipped sign patterns (the standard
    multi-probe trick — neighbors that straddle one hyperplane land one
    flip away). Returns the first n_probes distinct buckets."""
    signs = _signs(vec_col)
    idx = F.sequence(F.lit(0), F.lit(_SIGN_BITS - 1))

    def _flip_at(i: int):
        return lambda x, j: F.when(j == i, 1 - x).otherwise(x)

    variants = [signs]
    for i in range(_SIGN_BITS):
        variants.append(F.zip_with(signs, idx, _flip_at(i)))
    buckets = F.array_distinct(
        F.array(*[_bucket_of(v, n_buckets) for v in variants]))
    return F.slice(buckets, 1, n_probes)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_buckets: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding", n_probes: int = 4) -> DataFrame:
    """Bucketed ANN: per-bucket brute force — each query meets corpus
    vectors in its n_probes multi-probe buckets (equi-join on bucket,
    not a cross join; probe fraction ≈ n_probes/n_buckets of the
    corpus per query)."""
    c = ivf_assign(corpus, n_buckets, vec_col).select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("nv"), "bucket")
    q = (queries.select(F.col(id_col).alias("qid"),
                        as_double(F.col(vec_col)).alias("qv"),
                        F.explode(ivf_probe_buckets(vec_col, n_buckets,
                                                    n_probes)).alias("bucket")))
    pairs = (c.join(broadcast(q), "bucket")
              .where(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("sim"))
              .dropDuplicates(["qid", "nid"]))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("qid", "nid", "rank", "sim"))


def sign_bucket(vec_col: str) -> Column:
    """Portable coarse bucket: the sign bits of the leading _SIGN_BITS
    components encoded DIRECTLY as an integer 0..2^bits-1 — a bijection,
    no hash involved, so any engine reproduces the assignment exactly and
    the standard one-hyperplane multi-probe neighbors are plain XORs of
    the bucket id."""
    v = as_double(F.col(vec_col))
    out = F.lit(0)
    for i in range(_SIGN_BITS):
        out = out + F.when(F.element_at(v, i + 1) > 0, 1 << i).otherwise(0)
    return out


def ivf_topk_portable(corpus: DataFrame, queries: DataFrame, k: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_probes: int = 4) -> DataFrame:
    """ivf_topk with the hash-free sign-bit bucket (64 buckets): the
    entire approximate pipeline — bucket assignment, XOR multi-probe
    list, collision join, cosine, top-k — is bit-reproducible in the SQL
    oracle. Same sub-quadratic equi-join shape as ivf_topk.

    n_probes is capped at _SIGN_BITS + 1 (identity + one flip per sign
    bit): a larger probe index would XOR-flip a bit outside the bucket
    space, probing buckets no corpus vector can occupy (silent recall
    loss, found in round-2 advice)."""
    if n_probes > _SIGN_BITS + 1:
        raise ValueError(
            f"n_probes={n_probes} exceeds {_SIGN_BITS + 1} "
            f"(identity probe + one single-bit flip per of the "
            f"{_SIGN_BITS} bucket bits); larger probe indices would "
            "address buckets outside the bucket space")
    b = sign_bucket(vec_col)
    c = corpus.select(F.col(id_col).alias("nid"),
                      as_double(F.col(vec_col)).alias("nv"),
                      b.alias("bucket"))
    probes = F.array(*[b.bitwiseXOR(0 if p == 0 else 1 << (p - 1))
                       for p in range(n_probes)])
    q = queries.select(F.col(id_col).alias("qid"),
                       as_double(F.col(vec_col)).alias("qv"),
                       F.explode(probes).alias("bucket"))
    pairs = (c.join(broadcast(q), "bucket")
              .where(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      F.round(cosine(F.col("qv"), F.col("nv")), 6)
                      .alias("sim")))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("qid", "nid", "rank", "sim"))


def cosine_near_dup_pairs(corpus: DataFrame, threshold: float,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          block_col: str | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (d1 < d2) with
    cosine >= threshold. With block_col, the self-join is an equi-join
    within blocks (label, LSH bucket, shard …) — the scale path; without
    it the join is exact but O(n²) (small corpora / per-bucket step).
    Output: (d1, d2, sim)."""
    a = corpus.select(F.col(id_col).alias("d1"),
                      as_double(F.col(vec_col)).alias("v1"),
                      *([F.col(block_col).alias("_b")] if block_col else []))
    b = corpus.select(F.col(id_col).alias("d2"),
                      as_double(F.col(vec_col)).alias("v2"),
                      *([F.col(block_col).alias("_b")] if block_col else []))
    cond = F.col("d1") < F.col("d2")
    j = a.join(b, ["_b"]).where(cond) if block_col \
        else a.crossJoin(b).where(cond)
    sim = F.round(cosine(F.col("v1"), F.col("v2")), 6)
    return (j.select("d1", "d2", sim.alias("sim"))
             .where(F.col("sim") >= threshold))


# --------------------------------------------------------------------------
# k-means-trained IVF (the production path: real centroids, not sign hashes)
# --------------------------------------------------------------------------


def ivf_fit_centroids(corpus: DataFrame, n_buckets: int = 64,
                      vec_col: str = "embedding", seed: int = 7,
                      sample_fraction: float | None = None) -> DataFrame:
    """Fit coarse IVF centroids with Spark MLlib k-means on L2-normalized
    vectors (normalizing makes euclidean k-means approximate spherical
    k-means, the right geometry for cosine ANN). Returns a small
    DataFrame (bucket, centroid array<double>) to broadcast into
    assignment joins. At 100 TB: fit on a sample (sample_fraction), the
    centroid table stays tiny regardless of corpus size."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = as_double(F.col(vec_col))
    unit = F.transform(v, lambda x: x / F.sqrt(norm_sq(v)))
    fit_df = corpus.select(array_to_vector(unit).alias("features"))
    if sample_fraction:
        fit_df = fit_df.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_buckets, seed=seed, maxIter=20).fit(fit_df)
    spark = corpus.sparkSession
    centers = [(i, [float(x) for x in c])
               for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(centers, "bucket int, centroid array<double>")


def _nearest_buckets(df: DataFrame, centroids: DataFrame, n: int,
                     id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, bucket) rows for each vector's n nearest centroids —
    a broadcast join against the tiny centroid table + rank window.
    Cosine distance == euclidean on normalized vectors, so rank by dot
    product descending."""
    v = as_double(F.col(vec_col))
    unit = F.transform(v, lambda x: x / F.sqrt(norm_sq(v)))
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v"),
                     unit.alias("_u"))
    scored = (base.crossJoin(broadcast(centroids))
              .withColumn("_aff", dot(F.col("_u"), F.col("centroid"))))
    w = Window.partitionBy("_id").orderBy(F.col("_aff").desc(), F.col("bucket"))
    return (scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= n)
            .select("_id", "_v", "bucket"))


def ivf_kmeans_topk(corpus: DataFrame, queries: DataFrame, k: int,
                    n_buckets: int = 64, n_probes: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: DataFrame | None = None,
                    sample_fraction: float | None = None) -> DataFrame:
    """IVF ANN with trained centroids: corpus vectors live in their
    nearest bucket; each query probes its n_probes nearest buckets and
    brute-forces only those (probe fraction ≈ n_probes/n_buckets).
    Pass a precomputed `centroids` frame to amortize the fit across
    query batches."""
    if centroids is None:
        centroids = ivf_fit_centroids(corpus, n_buckets, vec_col,
                                      sample_fraction=sample_fraction)
    centroids = centroids.cache()
    c = _nearest_buckets(corpus, centroids, 1, id_col, vec_col) \
        .select(F.col("_id").alias("nid"), F.col("_v").alias("nv"), "bucket")
    q = _nearest_buckets(queries, centroids, n_probes, id_col, vec_col) \
        .select(F.col("_id").alias("qid"), F.col("_v").alias("qv"), "bucket")
    pairs = (c.join(broadcast(q), "bucket")
              .where(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("sim"))
              .dropDuplicates(["qid", "nid"]))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k)
                 .select("qid", "nid", "rank", "sim"))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.9,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   bucket_col: Column | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    a vector is a duplicate iff some LOWER-id vector in the same coarse
    bucket has cosine >= threshold with it (lower-id-wins is the
    deterministic, engine-portable stand-in for SemDeDup's
    keep-one-per-group greedy; `dup_of` reports the smallest such id).

    Bucketing bounds the pairwise work exactly like cosine_near_dup_pairs:
    the default is the hash-free sign-bit bucket (64 cells, bit-exact in
    the SQL oracle); production passes a k-means bucket column from
    ivf_fit_centroids/_nearest_buckets for better recall at the same
    cost. Cross-bucket near-dups are missed by construction — the
    standard SemDeDup trade.

    Shape: one within-bucket self-equi-join (never cartesian), one
    min-aggregation on the duplicate side, one left join back. Output:
    (id, keep, dup_of).
    """
    b = bucket_col if bucket_col is not None else sign_bucket(vec_col)
    assigned = corpus.select(F.col(id_col), as_double(F.col(vec_col))
                             .alias("_v"), b.alias("_b"))
    a = assigned.select(F.col(id_col).alias("d1"), F.col("_v").alias("v1"),
                        "_b")
    c = assigned.select(F.col(id_col).alias("d2"), F.col("_v").alias("v2"),
                        "_b")
    dups = (a.join(c, "_b")
            .where(F.col("d1") < F.col("d2"))
            .where(F.round(cosine(F.col("v1"), F.col("v2")), 6)
                   >= threshold)
            .groupBy("d2").agg(F.min("d1").alias("dup_of")))
    return (corpus.select(F.col(id_col))
            .join(dups.withColumnRenamed("d2", id_col), id_col, "left")
            .select(id_col, F.col("dup_of").isNull().alias("keep"),
                    "dup_of"))


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    per query, the fraction of true neighbors the approximate search
    returned (the standard ANN quality metric, computed IN the engine so
    index-quality regression checks live next to the index itself).

    Both inputs use the (qid, nid, rank, sim) shape every *_topk
    operator here emits. One equi-join on (qid, nid) + one hash-agg —
    negligible next to the searches themselves.
    Output: (qid, n_true, n_hit, recall)."""
    t = exact.select("qid", "nid")
    a = approx.select("qid", "nid").withColumn("_hit", F.lit(1))
    return (t.join(a, ["qid", "nid"], "left")
            .groupBy("qid")
            .agg(F.count(F.lit(1)).cast("long").alias("n_true"),
                 F.count("_hit").cast("long").alias("n_hit"))
            .withColumn("recall", F.round(F.col("n_hit")
                                          / F.col("n_true"), 6)))


def embedding_outliers(corpus: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       z_threshold: float = 2.0) -> DataFrame:
    """Embedding-space outlier scoring: distance of each vector from its
    coarse-bucket centroid, z-scored within the bucket — the cheap
    filter for mis-embedded/corrupted/off-distribution samples before
    they poison ANN indexes or dedup thresholds.

    Exact and engine-portable: buckets are the hash-free sign-bit cells,
    centroids are per-(bucket, component) means computed by one explode +
    hash-aggregation (never a driver-side fit), distances and the
    per-bucket mean/stddev are plain aggregations. Scale shape: the
    explode shuffles (bucket, pos) keys — dim * n rows but tiny ones;
    everything downstream is bounded by bucket count.

    Output: (id, bucket, dist, z, is_outlier) — dist/z rounded to 6 dp;
    z is NULL (and is_outlier false) for single-vector buckets."""
    b = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"),
                      sign_bucket(vec_col).alias("bucket"))
    comp = b.select(id_col, "bucket",
                    F.posexplode(F.col("_v")).alias("pos", "x"))
    cent = comp.groupBy("bucket", "pos").agg(F.avg("x").alias("mu"))
    dist = (comp.join(cent, ["bucket", "pos"])
            .groupBy(id_col, "bucket")
            .agg(F.sqrt(F.sum((F.col("x") - F.col("mu"))
                              * (F.col("x") - F.col("mu")))).alias("_d")))
    stats = dist.groupBy("bucket").agg(F.avg("_d").alias("_m"),
                                       F.stddev_samp("_d").alias("_s"))
    z = F.when(F.col("_s") > 0, (F.col("_d") - F.col("_m")) / F.col("_s"))
    return (dist.join(stats, "bucket")
            .select(F.col(id_col), "bucket",
                    F.round(F.col("_d"), 6).alias("dist"),
                    F.round(z, 6).alias("z"),
                    F.coalesce(F.round(z, 6) >= z_threshold,
                               F.lit(False)).alias("is_outlier")))


def _kmeans_assign(vecs: DataFrame, centroids: list[tuple[int, list[float]]],
                   ) -> DataFrame:
    """Assign each vector to the nearest centroid (squared L2, ties to
    the lowest cluster index). Centroids are literals baked into one
    array<struct> expression — the broadcast-small-side pattern without
    even a join: argmin is array_min over per-centroid structs, ordered
    (dist2, cluster), evaluated entirely inside whole-stage codegen.

    dist2 uses the inner-product decomposition |v|^2 - 2 v.c + |c|^2 with
    sequential folds so any engine's sequential inner product reproduces
    the bit pattern (same trick as the ANN oracles)."""
    best = F.array_min(_centroid_dist_structs(F.col("v"), centroids))
    return vecs.select("vid", "v", best["cluster"].alias("cluster"),
                       best["d2"].alias("d2"))


def _centroid_dist_structs(v: Column, centroids) -> Column:
    """array<struct(d2, cluster)> of exact squared-L2 distances from `v`
    to every literal centroid — the join-free broadcast-small-side shape
    shared by assignment (array_min) and probing (array_sort + slice).
    Struct field order (d2, cluster) IS the tie-break."""
    dims = {len(c) for _, c in centroids}
    if len(dims) > 1:
        # a ragged centroid list can only be a caller bug; zip_with in
        # dot() would null-pad the mismatch into silently-arbitrary
        # assignments (ADVICE r5)
        raise ValueError(f"centroids have inconsistent dims {sorted(dims)}")
    vnorm = norm_sq(v)
    cands = []
    for j, c in centroids:
        c_lit = F.array(*[F.lit(float(x)) for x in c])
        cnorm = 0.0
        for x in c:                  # same left-to-right fold as the SQL
            cnorm += float(x) * float(x)
        d2 = vnorm - 2.0 * dot(v, c_lit) + F.lit(cnorm)
        cands.append(F.struct(d2.alias("d2"),
                              F.lit(int(j)).alias("cluster")))
    return F.array(*cands)


def kmeans_portable(corpus: DataFrame, k: int = 4, iterations: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    round_to: int = 6) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    clustering pass behind semantic curation (SemDeDup-style cluster-
    then-dedup, topic balancing, per-cluster sampling).

    Fully engine-portable by construction, so the APPROXIMATE-free
    pipeline has an exact SQL oracle: seeds are the k lowest-id vectors
    (no RNG), each round assigns by squared L2 (lowest cluster index on
    ties) and recomputes centroids as per-component means rounded to
    `round_to` decimals (rounding re-synchronizes both engines'
    float summation at every round boundary). Clusters that lose all
    members simply drop out (no re-seeding) — mirrored by the oracle.

    Scale shape: per round, ONE explode + hash-aggregation for the
    centroid update (k*dim rows collected — bounded by model size, not
    data, the same driver-side footprint as MLlib's KMeans) and a
    map-only assignment with centroids baked into the plan. iterations+1
    passes over the data total; fit on a sample and assign-once for the
    100 TB path (ivf_fit_centroids does exactly that for ANN).

    Output: (id, cluster, dist2) with dist2 rounded to `round_to`.
    """
    vecs = corpus.select(F.col(id_col).alias("vid"),
                         as_double(F.col(vec_col)).alias("v"))
    cents = kmeans_fit_portable(corpus, k=k, iterations=iterations,
                                id_col=id_col, vec_col=vec_col,
                                round_to=round_to)
    final = _kmeans_assign(vecs, cents)
    return final.select(F.col("vid").alias(id_col), "cluster",
                        F.round("d2", round_to).alias("dist2"))


def kmeans_fit_portable(corpus: DataFrame, k: int = 4,
                        iterations: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        round_to: int = 6) -> list:
    """The fit half of kmeans_portable: run the deterministic Lloyd's
    rounds and return the FINAL centroid list [(cluster, [floats])] —
    the reusable trained model (bounded driver state: k x dim floats)
    that kmeans_portable assigns with and ivfpq_kmeans_topk buckets
    with. Clusters that lose all members drop out, mirrored by the
    oracle's per-round GROUP BY."""
    vecs = corpus.select(F.col(id_col).alias("vid"),
                         as_double(F.col(vec_col)).alias("v"))
    # round via Spark (HALF_UP), not Python (HALF_EVEN) — the oracle's
    # round() must see the identical seed doubles
    seed_rows = (vecs.orderBy("vid").limit(k)
                 .select(F.transform("v", lambda x: F.round(x, round_to))
                         .alias("v")).collect())
    cents = [(j, [float(x) for x in r["v"]])
             for j, r in enumerate(seed_rows)]
    dim = len(cents[0][1])
    for _ in range(iterations):
        assigned = _kmeans_assign(vecs, cents)
        # centroid update as dim element-wise sum aggregates, NOT a
        # posexplode + (cluster, pos) agg: Generate collapses the
        # projection into itself, re-evaluating the argmin expression
        # once PER ELEMENT (dim x per vector — measured 11 s vs 0.7 s at
        # 128k x 64). The flat aggregate evaluates it once per row and
        # drops a whole shuffle stage. round(sum/count) == round(avg) —
        # the oracle's per-(cluster, pos) avg is unchanged.
        sums = [F.sum(F.element_at("v", p + 1)).alias(f"_s{p}")
                for p in range(dim)]
        upd = (assigned.groupBy("cluster")
               .agg(F.count(F.lit(1)).alias("_n"), *sums)
               .select("cluster",
                       *[F.round(F.col(f"_s{p}") / F.col("_n"), round_to)
                         .alias(f"_m{p}") for p in range(dim)])
               .collect())
        cents = sorted((r["cluster"], [r[f"_m{p}"] for p in range(dim)])
                       for r in upd)
    return cents


def _pq_seeds(src: DataFrame, k: int, id_col: str, vec_col: str,
              round_to: int) -> list:
    """The deterministic PQ codebook: component-rounded vectors of the
    k lowest-id rows (bounded driver state: k x dim floats — the same
    model-size footprint as an MLlib fit)."""
    seed_rows = (src.select(F.col(id_col).alias("vid"),
                            as_double(F.col(vec_col)).alias("v"))
                 .orderBy("vid").limit(k)
                 .select(F.transform("v", lambda x: F.round(x, round_to))
                         .alias("v")).collect())
    if not seed_rows:
        raise ValueError("empty codebook source")
    return seed_rows


def _pq_lut(seed_rows: list, m: int, vec_col: str) -> Column:
    """Per-query ADC lookup table: an m x n_codes array of exact
    subspace squared-L2 distances from the query to every codebook
    sub-vector — candidate distance is then m element_at lookups."""
    dim = len(seed_rows[0]["v"])
    sub = dim // m
    qv = as_double(F.col(vec_col))
    lut_rows = []
    for j in range(m):
        qj = F.slice(qv, j * sub + 1, sub)
        qnorm = F.aggregate(F.transform(qj, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x)
        cells = []
        for r in seed_rows:
            cj = [float(x) for x in r["v"][j * sub: (j + 1) * sub]]
            c_lit = F.array(*[F.lit(x) for x in cj])
            cnorm = 0.0
            for x in cj:
                cnorm += x * x
            cells.append(qnorm - 2.0 * dot(qj, c_lit) + F.lit(cnorm))
        lut_rows.append(F.array(*cells))
    return F.array(*lut_rows)


def _pq_lut_table(queries: DataFrame, seed_rows: list, m: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """The same ADC lookup table as _pq_lut, built as DATA instead of a
    literal expression: the codebook becomes a broadcast (j, c, subvec,
    cnorm) frame of m x n_codes rows, each query joins it once, and the
    per-(qid, j, c) cell distances fold back into the m x n_codes array
    shape with order-pinned array_sort(collect_list(struct)) — struct
    field order (c,...)/(j,...) IS the sort key, so cell order matches
    the literal layout exactly.

    Why: at production codebook shape (m=8, n_codes=256) the literal
    LUT is a ~2048-cell expression tree and every search pays ~1 min of
    Catalyst/codegen compile before any data moves (measured,
    PERF.md r6); as data the expression stays O(1) in codebook size and
    the work is an |Q| x (m x n_codes) broadcast join — still entirely
    query-side. Bit-exact vs the literal path: same slice, same
    zero-seeded left-fold dot/norm, same Python-float cnorm (asserted
    at fixture scale in tests)."""
    spark = queries.sparkSession
    dim = len(seed_rows[0]["v"])
    sub = dim // m
    cb_rows = []
    for j in range(m):
        for c, r in enumerate(seed_rows):
            cj = [float(x) for x in r["v"][j * sub: (j + 1) * sub]]
            cnorm = 0.0
            for x in cj:            # same left-to-right fold as _pq_lut
                cnorm += x * x
            cb_rows.append((j, c, cj, cnorm))
    cb = spark.createDataFrame(
        cb_rows, "j int, c int, subvec array<double>, cnorm double")
    qv = as_double(F.col(vec_col))
    q = queries.select(F.col(id_col).alias("qid"), qv.alias("_qv"))
    qj = F.slice(F.col("_qv"), F.col("j") * sub + 1, sub)
    cells = (q.join(broadcast(cb))
             .select("qid", "j", "c",
                     (norm_sq(qj) - 2.0 * dot(qj, F.col("subvec"))
                      + F.col("cnorm")).alias("d2")))
    per_j = (cells.groupBy("qid", "j")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("c", "d2"))),
                 lambda s: s["d2"]).alias("row")))
    return (per_j.groupBy("qid")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("j", "row"))),
                lambda s: s["row"]).alias("_lut")))


def _adc_dist(codes: Column, lut: Column) -> Column:
    """ADC distance: sum of the LUT cells the candidate's codes select
    (zero-seeded left fold — associativity order matches the oracle)."""
    return F.aggregate(
        F.zip_with(codes, lut, lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)


_PQ_INTERNAL = ("vid", "v", "codes", "err2")


def _validate_encoded(enc: DataFrame, m: int, n_codes: int,
                      id_col: str, need_bucket: bool = False) -> None:
    """Entry validation for prebuilt codes (pq_topk(encoded=) /
    ivfpq_topk(index=)), which skip pq_encode's own checks: a stored
    index built with different m/n_codes would otherwise zip_with-pad
    to nulls or read past the LUT row — silently wrong distances
    instead of an error (ADVICE r4). Cost: one map+aggregate pass over
    (codes) — exact (a sampled row can miss an out-of-range code
    elsewhere), run once per search against a prebuilt index."""
    cols = enc.columns
    if "codes" not in cols or id_col not in cols:
        raise ValueError(f"prebuilt index must have ({id_col}, codes); "
                         f"got {cols}")
    if need_bucket and "_bucket" not in cols:
        raise ValueError(f"prebuilt IVF x PQ index must carry _bucket; "
                         f"got {cols}")
    stats = enc.agg(
        F.min(F.size("codes")).alias("m_lo"),
        F.max(F.size("codes")).alias("m_hi"),
        F.min(F.array_min("codes")).alias("c_lo"),
        F.max(F.array_max("codes")).alias("c_hi")).first()
    if stats["m_lo"] is None:
        return                      # empty index — nothing to contradict
    if stats["m_lo"] != m or stats["m_hi"] != m:
        raise ValueError(f"prebuilt codes have m={stats['m_lo']}.."
                         f"{stats['m_hi']} subspaces, search asked m={m}"
                         " subspaces")
    if stats["c_lo"] is None or stats["c_lo"] < 0 or stats["c_hi"] >= n_codes:
        raise ValueError(f"prebuilt codes span [{stats['c_lo']}, "
                         f"{stats['c_hi']}] outside [0, n_codes={n_codes})")


def pq_encode(corpus: DataFrame, m: int = 4, k: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding",
              codebook: DataFrame | None = None,
              round_to: int = 6, carry: tuple = ()) -> DataFrame:
    """Product quantization: split each vector into `m` contiguous
    subspaces and store, per subspace, the index of the nearest of `k`
    codebook sub-vectors — dim x 8 bytes collapse to m small ints, the
    standard memory layer under billion-scale ANN (the IVF bucket join
    then shuffles codes, not floats; distances are table lookups).

    The codebook is the sub-vectors of the k lowest-id corpus rows
    (deterministic; production trains one offline per subspace — pass
    `codebook` (id ordering source) to mirror that). Assignment is the
    same join-free literal-centroid argmin as k-means, applied per
    subspace; quantization error is reported per row so the
    recall-vs-memory trade is measurable in-engine.

    Output: (id, codes array<int> length m, err2, *carry) where err2 is
    the total squared reconstruction error, rounded; `carry` columns
    pass through untouched (e.g. an IVF bucket id — the encode stays
    map-only either way).
    """
    src = codebook if codebook is not None else corpus
    for c in carry:
        if c in _PQ_INTERNAL or (c.startswith("_c") and c[2:].isdigit()):
            raise ValueError(f"carry column {c!r} collides with a "
                             "pq_encode internal name")
    vecs = corpus.select(F.col(id_col).alias("vid"),
                         as_double(F.col(vec_col)).alias("v"), *carry)
    seed_rows = _pq_seeds(src, k, id_col, vec_col, round_to)
    dim = len(seed_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    code_cols, err_terms = [], []
    for j in range(m):
        vj = F.slice(F.col("v"), j * sub + 1, sub)
        vnorm = F.aggregate(F.transform(vj, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x)
        cands = []
        for c_idx, r in enumerate(seed_rows):
            cj = [float(x) for x in r["v"][j * sub: (j + 1) * sub]]
            c_lit = F.array(*[F.lit(x) for x in cj])
            cnorm = 0.0
            for x in cj:
                cnorm += x * x
            d2 = vnorm - 2.0 * dot(vj, c_lit) + F.lit(cnorm)
            cands.append(F.struct(d2.alias("d2"),
                                  F.lit(c_idx).alias("code")))
        best = F.array_min(F.array(*cands))
        code_cols.append(best["code"].alias(f"_c{j}"))
        err_terms.append(best["d2"])
    total_err = err_terms[0]
    for t in err_terms[1:]:
        total_err = total_err + t
    return (vecs.select("vid", *code_cols,
                        F.round(total_err, round_to).alias("err2"), *carry)
            .select(F.col("vid").alias(id_col),
                    F.array(*[F.col(f"_c{j}") for j in range(m)])
                    .alias("codes"), "err2", *carry))


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
            m: int = 4, n_codes: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            codebook: DataFrame | None = None,
            round_to: int = 6,
            encoded: DataFrame | None = None,
            validate: bool = True,
            lut: str = "literal") -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: corpus vectors are reduced to their pq_encode() codes;
    each query precomputes an m x n_codes lookup table of exact
    subspace distances to the codebook; a candidate's distance is then
    m table lookups + m-1 adds instead of a dim-wide dot product —
    the memory/compute layer every billion-scale ANN stack runs under
    its IVF stage.

    Same deterministic codebook as pq_encode, so the whole approximate
    pipeline (encode, LUT, lookup-sum, rank) has an exact SQL oracle.
    Ranking: (adist2 asc, nid) — adist2 is the PQ-approximated squared
    L2, rounded. Queries ride a broadcast; the corpus side touches only
    (id, codes).

    Output: (qid, nid, rank, adist2). Pass `encoded=` (a pq_encode
    result, typically read back from storage) to search prebuilt codes
    without re-encoding; `validate=False` skips the one-aggregate-pass
    code check when the index was already validated (e.g. once at
    ivfpq_read_index time) so repeated searches don't pay a full index
    scan each (ADVICE r5). `lut="table"` builds the per-query lookup
    table as a broadcast join against a codebook frame instead of a
    literal expression — bit-identical results, O(1) expression size in
    m x n_codes (the scale path for production codebooks, where the
    literal tree costs ~1 min of compile per search; PERF.md r6).
    """
    if lut not in ("literal", "table"):
        raise ValueError(f"lut must be 'literal' or 'table', got {lut!r}")
    if encoded is not None and validate:
        _validate_encoded(encoded, m, n_codes, id_col)
    enc = encoded if encoded is not None else pq_encode(
        corpus, m=m, k=n_codes, id_col=id_col, vec_col=vec_col,
        codebook=codebook, round_to=round_to)
    seed_rows = _pq_seeds(codebook if codebook is not None else corpus,
                          n_codes, id_col, vec_col, round_to)
    dim = len(seed_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if lut == "table":
        q = _pq_lut_table(queries, seed_rows, m, id_col, vec_col)
    else:
        q = queries.select(F.col(id_col).alias("qid"),
                           _pq_lut(seed_rows, m, vec_col).alias("_lut"))
    pairs = (enc.select(F.col(id_col).alias("nid"), "codes")
             .crossJoin(broadcast(q))
             .where(F.col("nid") != F.col("qid")))
    scored = pairs.select(
        "qid", "nid",
        F.round(_adc_dist(F.col("codes"), F.col("_lut")),
                round_to).alias("adist2"))
    w = Window.partitionBy("qid").orderBy(F.col("adist2").asc(),
                                          F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "rank", "adist2"))


def ivfpq_index(corpus: DataFrame, m: int = 4, n_codes: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                codebook: DataFrame | None = None,
                round_to: int = 6) -> DataFrame:
    """Build the stored IVF x PQ index: one map-only pass emitting
    (id, codes array<int>, err2, _bucket). This is the artifact a
    production deployment writes ONCE (partitioned/bucketed by _bucket
    so searches prune file groups) and searches many times — encode
    cost amortizes to zero per query; ivfpq_topk(index=...) then scans
    codes only. At 100 TB of vectors the index is ~m bytes/vector."""
    if "_bucket" in corpus.columns:
        # withColumn would silently REPLACE a caller's _bucket and
        # corrupt the stored index rather than fail (ADVICE r4)
        raise ValueError("corpus already has a _bucket column; rename "
                         "it before building an IVF x PQ index")
    b = sign_bucket(vec_col)
    return pq_encode(corpus.withColumn("_bucket", b), m=m, k=n_codes,
                     id_col=id_col, vec_col=vec_col, codebook=codebook,
                     round_to=round_to, carry=("_bucket",))


def ivfpq_kmeans_index(corpus: DataFrame, centroids: list,
                       m: int = 4, n_codes: int = 4,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       codebook: DataFrame | None = None,
                       round_to: int = 6) -> DataFrame:
    """ivfpq_index with TRAINED k-means coarse buckets: one map-only
    pass emitting (id, codes, err2, _bucket) where _bucket is the
    nearest-centroid cluster (kmeans_bucket_col). Build once with
    kmeans_fit_portable centroids, persist via ivfpq_write_index, then
    search with ivfpq_kmeans_topk(index=..., centroids=same) — the
    encode (expression-compile-heavy at production codebook sizes)
    amortizes to zero per query."""
    if "_bucket" in corpus.columns:
        raise ValueError("corpus already has a _bucket column; rename "
                         "it before building an IVF x PQ index")
    return pq_encode(
        corpus.withColumn("_bucket", kmeans_bucket_col(centroids, vec_col)),
        m=m, k=n_codes, id_col=id_col, vec_col=vec_col,
        codebook=codebook, round_to=round_to, carry=("_bucket",))


def sign_probe_buckets(vec_col: str, n_probes: int) -> Column:
    """The XOR multi-probe bucket list for a query vector as an array
    Column: its own sign bucket plus one single-bit flip per additional
    probe (probe p flips bit p-1). The same expression ivfpq_topk uses
    internally — exposed so a query router can compute probe lists
    up front (e.g. to push a `_bucket IN (...)` filter into a stored
    bucketed index and prune files at planning time)."""
    if n_probes > _SIGN_BITS + 1:
        raise ValueError(
            f"n_probes={n_probes} exceeds {_SIGN_BITS + 1} "
            "(identity probe + one single-bit flip per bucket bit)")
    b = sign_bucket(vec_col)
    return F.array(*[b.bitwiseXOR(0 if p == 0 else 1 << (p - 1))
                     for p in range(n_probes)])


def ivfpq_write_index(index: DataFrame, table_name: str,
                      n_buckets: int = 64, mode: str = "overwrite") -> None:
    """Persist an ivfpq_index result as a hash-bucketed, bucket-sorted
    catalog table: a probe-list filter (`_bucket IN (...)`) then prunes
    to the probed file buckets at PLANNING time (SelectedBucketsCount
    in the scan — unprobed files never open their footers), the same
    storage trick write_series_table_bucketed plays for metric lookups
    (sources/table.py). One shuffle at write time (repartition by
    _bucket so each file holds whole buckets); searches amortize it
    forever. Requires saveAsTable — bucket metadata lives in the
    catalog."""
    import re
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_name):
        # qualified (db.tbl) or exotic names would reach raw SQL and a
        # warehouse-relative rmtree below with the wrong layout (ADVICE
        # r5) — require a bare identifier so both paths are exact
        raise ValueError(f"table_name must be a bare identifier "
                         f"[A-Za-z_][A-Za-z0-9_]*, got {table_name!r}")
    spark = index.sparkSession
    if mode == "overwrite":
        # DROP handles a live catalog entry; a stale managed-table
        # directory left by a PREVIOUS session blocks CREATE even
        # after DROP (the fresh in-memory catalog never knew it), so
        # clear a local leftover too (no-op for object-store
        # warehouses, where the long-lived metastore makes DROP
        # sufficient)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        import os
        import shutil
        from urllib.parse import urlparse
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, table_name.lower())
        if wh and os.path.isdir(loc):
            shutil.rmtree(loc)
    (index.repartition(F.col("_bucket"))
          .write.mode(mode)
          .bucketBy(n_buckets, "_bucket")
          .sortBy("_bucket")
          .format("parquet")
          .saveAsTable(table_name))


def write_vector_table(vectors: DataFrame, table_name: str,
                       n_buckets: int = 64,
                       id_col: str = "vec_id",
                       mode: str = "overwrite") -> None:
    """Persist raw vectors as a catalog table hash-bucketed BY ID — the
    refine-stage companion to ivfpq_write_index: rerank_exact's
    candidate fetch (`id IN (<candidate ids>)`) then bucket-prunes the
    vector files at planning time instead of scanning every raw vector
    (at 100 TB the codes index is ~m bytes/vector but the raw floats
    are the bulk; the refine stage should touch only the files holding
    its |Q| x R candidates)."""
    import re
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_name):
        raise ValueError(f"table_name must be a bare identifier "
                         f"[A-Za-z_][A-Za-z0-9_]*, got {table_name!r}")
    spark = vectors.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        import os
        import shutil
        from urllib.parse import urlparse
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, table_name.lower())
        if wh and os.path.isdir(loc):
            shutil.rmtree(loc)
    (vectors.repartition(F.col(id_col))
            .write.mode(mode)
            .bucketBy(n_buckets, id_col)
            .sortBy(id_col)
            .format("parquet")
            .saveAsTable(table_name))


def read_vector_table(spark, table_name: str, ids=None,
                      id_col: str = "vec_id") -> DataFrame:
    """Read a stored vector table back, optionally pre-filtered to a
    candidate id list so the literal IN-filter bucket-prunes files at
    planning time (SelectedBucketsCount in the scan). Feed the result
    to rerank_exact as its `corpus`."""
    df = spark.table(table_name)
    if ids is not None:
        ids = list(ids)
        df = df.where(F.col(id_col).isin(ids) if ids else F.lit(False))
    return df


def ivfpq_read_index(spark, table_name: str,
                     probe_buckets=None,
                     m: int | None = None, n_codes: int | None = None,
                     id_col: str = "vec_id") -> DataFrame:
    """Read a stored IVF x PQ index back, optionally pre-filtered to a
    probe-bucket list (computed up front via sign_probe_buckets) so the
    literal IN-filter reaches the scan and bucket-prunes the files.

    Pass m/n_codes to validate the stored codes ONCE here (full-index
    aggregate) — then search with validate=False so repeated
    pq_topk/ivfpq_topk calls against the same index skip the per-search
    validation scan (ADVICE r5)."""
    df = spark.table(table_name)
    if m is not None and n_codes is not None:
        _validate_encoded(df, m, n_codes, id_col, need_bucket=True)
    if probe_buckets is not None:
        df = df.where(F.col("_bucket")
                      .isin([int(b) for b in probe_buckets]))
    return df


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int,
               m: int = 4, n_codes: int = 4, n_probes: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding",
               codebook: DataFrame | None = None,
               round_to: int = 6,
               index: DataFrame | None = None,
               validate: bool = True,
               lut: str = "literal") -> DataFrame:
    """The composed billion-scale ANN shape: IVF coarse buckets select
    WHICH candidates a query meets (sub-linear: ~n_probes/2^_SIGN_BITS
    of the corpus per query) and PQ codes decide HOW each candidate is
    scored (m table lookups instead of a dim-wide dot product) — the
    two layers every production ANN stack (FAISS IVFPQ et al.) runs
    together, previously only available here separately (ivf_topk
    scans floats per bucket; pq_topk ADC-scans every corpus code).

    Plan shape: corpus -> one map-only projection emitting
    (id, m int codes, bucket) — no floats leave the scan; queries ride
    a broadcast carrying their LUT + exploded probe-bucket list; one
    equi-join on bucket; one window top-k. No cartesian anywhere, and
    the shuffled candidate width is m ints, not dim doubles.

    Buckets are the hash-free sign_bucket (bijective, XOR multi-probe),
    the codebook the deterministic lowest-id rows — the whole composed
    pipeline has an exact SQL oracle. n_probes caps at _SIGN_BITS + 1
    like ivf_topk_portable (identity + one flip per bucket bit).

    Output: (qid, nid, rank, adist2) — same contract as pq_topk, minus
    candidates outside the probed buckets.

    Pass `index=` (from ivfpq_index, typically read back from its
    stored parquet) to search a prebuilt index — encode is skipped and
    only (id, codes, _bucket) is scanned. The codebook source (corpus
    or `codebook`) must be the one the index was built with.
    `validate=False` skips the one-aggregate-pass code check when the
    index was already validated (e.g. once at ivfpq_read_index time) —
    repeated searches then don't re-scan the index (ADVICE r5).
    `lut="table"` builds the ADC lookup table as a broadcast codebook
    join instead of a literal expression — bit-identical, the scale
    path for production codebooks (see pq_topk).
    """
    if lut not in ("literal", "table"):
        raise ValueError(f"lut must be 'literal' or 'table', got {lut!r}")
    probes = sign_probe_buckets(vec_col, n_probes)
    if index is not None and validate:
        _validate_encoded(index, m, n_codes, id_col, need_bucket=True)
    enc = index if index is not None else ivfpq_index(
        corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
        codebook=codebook, round_to=round_to)
    seed_rows = _pq_seeds(codebook if codebook is not None else corpus,
                          n_codes, id_col, vec_col, round_to)
    dim = len(seed_rows[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if lut == "table":
        q = (queries.select(F.col(id_col).alias("qid"),
                            F.explode(probes).alias("_bucket"))
             .join(broadcast(_pq_lut_table(queries, seed_rows, m,
                                           id_col, vec_col)), "qid"))
    else:
        q = queries.select(F.col(id_col).alias("qid"),
                           _pq_lut(seed_rows, m, vec_col).alias("_lut"),
                           F.explode(probes).alias("_bucket"))
    return _adc_bucket_rank(enc, q, k, id_col, round_to)


def _adc_bucket_rank(enc: DataFrame, q: DataFrame, k: int,
                     id_col: str, round_to: int) -> DataFrame:
    """Shared IVF x PQ search tail: codes side (id, codes, _bucket)
    equi-joined against the broadcast query side (qid, _lut, _bucket),
    ADC-scored, window-ranked to top-k. The shuffled candidate width is
    m ints + the LUT ride-along — never the raw vectors."""
    pairs = (enc.select(F.col(id_col).alias("nid"), "codes", "_bucket")
             .join(broadcast(q), "_bucket")
             .where(F.col("nid") != F.col("qid")))
    scored = pairs.select(
        "qid", "nid",
        F.round(_adc_dist(F.col("codes"), F.col("_lut")),
                round_to).alias("adist2"))
    w = Window.partitionBy("qid").orderBy(F.col("adist2").asc(),
                                          F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "rank", "adist2"))


def kmeans_bucket_col(centroids: list, vec_col: str) -> Column:
    """Nearest-centroid cluster id as a plain Column: literal centroids
    baked into a join-free argmin (array_min over (d2, cluster)
    structs) — the same exact decomposition as _kmeans_assign, usable
    as an ivfpq carry/bucket expression."""
    v = as_double(F.col(vec_col))
    return F.array_min(_centroid_dist_structs(v, centroids))["cluster"]


def kmeans_probe_col(centroids: list, vec_col: str,
                     n_probes: int) -> Column:
    """The n_probes nearest centroid ids for a query vector, nearest
    first: array_sort over the same (d2, cluster) structs — struct
    field order IS the (distance, cluster) tie-break — then slice +
    project. Join-free; explodes to one row per probed bucket."""
    v = as_double(F.col(vec_col))
    ranked = F.array_sort(_centroid_dist_structs(v, centroids))
    return F.transform(F.slice(ranked, 1, n_probes),
                       lambda s: s["cluster"])


def ivfpq_kmeans_topk(corpus: DataFrame, queries: DataFrame, k: int,
                      m: int = 4, n_codes: int = 4,
                      n_buckets: int = 16, iterations: int = 2,
                      n_probes: int = 1,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      codebook: DataFrame | None = None,
                      centroids: list | None = None,
                      round_to: int = 6,
                      index: DataFrame | None = None,
                      validate: bool = True,
                      lut: str = "literal",
                      rerank_k: int | None = None,
                      rerank_corpus: DataFrame | None = None) -> DataFrame:
    """IVF x PQ with TRAINED coarse buckets (r4 verdict item 2): the
    coarse layer is the deterministic portable k-means of
    kmeans_fit_portable instead of sign-hash cells — measured on the
    fixture, trained buckets lift recall@3 well above sign-hash at the
    SAME candidate fraction (sign-hash partitions by quadrant, k-means
    by density; see PERF.md).

    Fully oracle-exact end to end: deterministic centroids (lowest-id
    seeds, per-round rounding), exact argmin bucket assignment, exact
    array_sort probe ranking by (d2, cluster), deterministic PQ
    codebook, left-fold ADC — every stage is the SQL twin's stage.

    Plan shape: ONE map-only corpus projection emits (id, m int codes,
    cluster) — assignment and encode are both literal-expression math,
    no fit join, no floats past the scan; queries ride a broadcast
    carrying LUT + probe list; one equi-join on cluster; one window
    top-k. Probe fraction ≈ n_probes/n_buckets (by mass of the actual
    cluster sizes). At 100 TB: fit on a sample (the centroid model is
    k x dim floats of driver state, MLlib-equivalent), assignment stays
    map-only.

    Output: (qid, nid, rank, adist2) — the ivfpq_topk contract. With
    `rerank_k=R` (R >= k), ADC selects R candidates per query and an
    exact squared-L2 re-rank (rerank_exact) produces the final top-k —
    output column becomes exact `dist2` and the ADC quantization
    ceiling leaves the top-k (the FAISS-style refine stage; recall
    lift measured in PERF.md r6).

    Pass `index=` (an ivfpq_kmeans_index result, typically read back
    from storage) with the SAME centroids/codebook it was built with to
    skip the per-search encode — the write-once/search-forever shape;
    at production codebook sizes (m=8, n_codes=256) the encode is also
    the expression-compile-heavy stage, so amortizing it matters even
    at fixture scale (PERF.md r6 measures this).
    `validate=False` skips the one-aggregate-pass code check for
    already-validated indexes (ADVICE r5)."""
    if n_probes < 1:
        raise ValueError("n_probes must be >= 1")
    if "_bucket" in corpus.columns:
        raise ValueError("corpus already has a _bucket column; rename "
                         "it before building an IVF x PQ index")
    cents = centroids if centroids is not None else kmeans_fit_portable(
        corpus, k=n_buckets, iterations=iterations, id_col=id_col,
        vec_col=vec_col, round_to=round_to)
    if n_probes > len(cents):
        raise ValueError(f"n_probes={n_probes} exceeds the "
                         f"{len(cents)} trained buckets")
    if index is not None and validate:
        _validate_encoded(index, m, n_codes, id_col, need_bucket=True)
    enc = index if index is not None else pq_encode(
        corpus.withColumn("_bucket", kmeans_bucket_col(cents, vec_col)),
        m=m, k=n_codes, id_col=id_col, vec_col=vec_col,
        codebook=codebook, round_to=round_to,
        carry=("_bucket",))
    seed_rows = _pq_seeds(codebook if codebook is not None else corpus,
                          n_codes, id_col, vec_col, round_to)
    dim = len(seed_rows[0]["v"])
    bad = [len(c) for _, c in cents if len(c) != dim]
    if bad:
        # caller-supplied centroids of the wrong width would null-pad
        # through zip_with into arbitrary bucket assignment (ADVICE r5)
        raise ValueError(f"centroid dim {bad[0]} != vector dim {dim}")
    if lut == "table":
        q = (queries.select(F.col(id_col).alias("qid"),
                            F.explode(kmeans_probe_col(cents, vec_col,
                                                       n_probes))
                            .alias("_bucket"))
             .join(broadcast(_pq_lut_table(queries, seed_rows, m,
                                           id_col, vec_col)), "qid"))
    elif lut == "literal":
        q = queries.select(F.col(id_col).alias("qid"),
                           _pq_lut(seed_rows, m, vec_col).alias("_lut"),
                           F.explode(kmeans_probe_col(cents, vec_col,
                                                      n_probes))
                           .alias("_bucket"))
    else:
        raise ValueError(f"lut must be 'literal' or 'table', got {lut!r}")
    if rerank_k is None:
        return _adc_bucket_rank(enc, q, k, id_col, round_to)
    # production tail: ADC selects rerank_k candidates per query, the
    # exact stage ranks those (and only those) with full distances —
    # output switches from approximate adist2 to exact dist2
    if rerank_k < k:
        raise ValueError(f"rerank_k={rerank_k} must be >= k={k}")
    cand = _adc_bucket_rank(enc, q, rerank_k, id_col, round_to)
    # rerank_corpus: the raw-vector source for the refine fetch —
    # pass read_vector_table(spark, name, ids=...) (or the lazy frame
    # returned by read_vector_table with the candidate ids unresolved)
    # so the prebuilt `index=` search path never scans the full raw
    # corpus; the id-bucketed table prunes to the candidates' buckets
    # at planning time (ADVICE r6). Defaults to `corpus`.
    return rerank_exact(rerank_corpus if rerank_corpus is not None
                        else corpus, queries, cand, k,
                        id_col=id_col, vec_col=vec_col, round_to=round_to)


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        levels: int = 255) -> DataFrame:
    """Per-vector scalar quantization to `levels`+1 integer codes
    (int8-ish storage for ANN at scale: 4x smaller than float32, 8x
    smaller than float64, and the IVF bucket join shuffles codes, not
    floats). code = floor((x - min) / scale + 0.5) with
    scale = (max - min) / levels — floor(+0.5) instead of round() so
    the SQL oracle reproduces ties identically. Constant vectors get
    scale 0 and all-zero codes.

    Output: (id, codes array<int>, vmin, scale, max_abs_err) with the
    reconstruction error bound checked in-plan (err <= scale/2 + eps).
    Map-only array math — no shuffle, no Python."""
    v = as_double(F.col(vec_col))
    vmin, vmax = F.array_min(v), F.array_max(v)
    scale = (vmax - vmin) / F.lit(float(levels))
    codes = F.when(scale > 0, F.transform(
        v, lambda x: F.floor((x - vmin) / scale + 0.5).cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0)))
    deq = F.transform(codes, lambda c: c.cast("double") * scale + vmin)
    err = F.array_max(F.zip_with(v, deq, lambda x, y: F.abs(x - y)))
    return df.select(
        F.col(id_col),
        codes.alias("codes"),
        F.round(vmin, 6).alias("vmin"),
        F.round(scale, 6).alias("scale"),
        F.round(err, 6).alias("max_abs_err"))
