"""Deduplication operators for training-data pipelines.

Scale design notes (the point of these at 100 TB):
- exact: one hash-aggregate on the normalized text (or fingerprint);
  Spark's partial aggregation makes this a single shuffle of (hash, id).
- n-gram Jaccard: shingle-explode + self-equi-join on shingle; the join
  key space (shingles) is huge, so the shuffle is well distributed.
  Candidate pruning by a bucket column (e.g. language/source) bounds the
  pair blowup.
- MinHash + LSH: per-doc signature (k permutations) computed map-side
  with xxhash64 (JVM); band signatures -> equi-join on (band, band_hash)
  so only colliding docs ever meet — the classic sub-quadratic path.
- SimHash: 64-bit signed-projection hash; near-dup = same value on any
  rotated band (here: exact-match buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filodb_spark.operators import text as text_ops
from filodb_spark.operators.text import char_shingles, fingerprint



def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition by doc id before the shingle explode: spreads the
    compute-bound hashing across the cluster and pre-aligns with the
    downstream per-doc aggregation, which reuses the partitioning instead
    of shuffling the (much larger) exploded rows. Unconditional — probing
    the current partition count via the RDD API would force an analyzer
    pass per call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, F.col(id_col))


def segment_dedup(df: DataFrame, seg_tokens: int = 10,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Sub-document exact dedup (the line/paragraph-level pass of
    RefinedWeb/CCNet-style pipelines): cut each doc into consecutive
    `seg_tokens`-token segments (a deterministic stand-in for
    line/paragraph boundaries — the fixture corpus has neither), drop
    every segment whose lowercased md5 already occurred earlier in the
    corpus (first occurrence by (doc_id, seg_idx) survives), and
    reassemble what remains of each doc in order.

    Scale shape: one explode, one window over the well-distributed
    segment-hash key (row_number picks the global first occurrence —
    partial sort per hash group, group sizes are tiny), one per-doc
    re-aggregation. Both shuffle keys (hash, doc id) are uniform; no
    Python, no driver-side work.

    Output: (id, n_seg, n_kept, clean_fp) — clean_fp = md5 of the
    surviving segments joined by single spaces ('' when everything was
    a repeat, md5 still defined).
    """
    from pyspark.sql import Window
    from filodb_spark.operators.text import tokens
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_seg = F.ceil(n / F.lit(float(seg_tokens))).cast("int")
    idx = F.when(n_seg >= 1, F.sequence(F.lit(0), n_seg - 1)) \
        .otherwise(F.array().cast("array<int>"))
    segs = F.transform(
        idx, lambda j: F.struct(
            j.cast("long").alias("seg_idx"),
            F.concat_ws(" ", F.slice(toks, j * seg_tokens + 1, seg_tokens))
            .alias("seg")))
    exploded = (df.select(F.col(id_col), F.explode(segs).alias("s"))
                .select(id_col, "s.seg_idx", "s.seg",
                        F.md5(F.lower(F.col("s.seg"))).alias("h")))
    w = Window.partitionBy("h").orderBy(F.col(id_col), F.col("seg_idx"))
    marked = exploded.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(F.col("_rn") == 1,
                         F.struct(F.col("seg_idx"), F.col("seg")))
    per_doc = (marked.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_seg"),
                    F.count(kept_struct).cast("long").alias("n_kept"),
                    F.array_sort(F.collect_list(kept_struct)).alias("_ks")))
    clean = F.concat_ws(" ", F.transform(F.col("_ks"), lambda s: s["seg"]))
    scored = per_doc.select(id_col, "n_seg", "n_kept",
                            F.md5(clean).alias("clean_fp"))
    base = df.select(F.col(id_col))
    return (base.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_seg", F.lit(0)).alias("n_seg"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("clean_fp", F.md5(F.lit(""))).alias("clean_fp")))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Group identical texts: (doc_id = min id of group, n = group size)."""
    return (df.groupBy(text_col)
              .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n"))
              .select(id_col, "n"))


def exact_duplicates_by_fingerprint(df: DataFrame, id_col: str = "doc_id",
                                    text_col: str = "text") -> DataFrame:
    """Same but on the normalized md5 fingerprint — the form that scales
    (shuffles 16-byte keys, not full documents)."""
    return (df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
              .groupBy("fp")
              .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n"))
              .select(id_col, "n", "fp"))


def ngram_jaccard_pairs(df: DataFrame, threshold: float,
                        bucket_cols: tuple[str, ...] = (),
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Explode distinct shingles, self-join on (bucket, shingle), count
    common shingles per pair, Jaccard = inter / (|A| + |B| - inter).
    bucket_cols restrict candidate pairs (blocking) — at scale, always
    pass one (language, domain, length-band, or an LSH band).
    Output: d1 < d2, jaccard (rounded 6).
    """
    sh = (_spread(df, id_col)
          .select(*bucket_cols, F.col(id_col),
                  F.explode(char_shingles(F.col(text_col), n)).alias("g")))
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    join_cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (F.col("a.g") == F.col("b.g"))
    for bc in bucket_cols:
        join_cond = join_cond & (F.col(f"a.{bc}") == F.col(f"b.{bc}"))
    common = (a.join(b, join_cond)
               .groupBy(F.col(f"a.{id_col}").alias("d1"),
                        F.col(f"b.{id_col}").alias("d2"))
               .agg(F.count(F.lit(1)).alias("inter")))
    c1 = cnt.select(F.col(id_col).alias("d1"), F.col("c").alias("c1"))
    c2 = cnt.select(F.col(id_col).alias("d2"), F.col("c").alias("c2"))
    return (common.join(c1, "d1").join(c2, "d2")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("c1") + F.col("c2") - F.col("inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("d1", "d2", "jaccard"))


def minhash_signatures(df: DataFrame, num_perm: int = 32,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 5) -> DataFrame:
    """MinHash signature per document: for permutation i, min over
    shingles of xxhash64(i, shingle).

    Shape: explode distinct shingles once, hash per permutation seed,
    then a single hash aggregation with k min() columns — map-side
    partial min, no per-row array folds. (NOT monotone transforms of one
    hash: min() of a monotone transform picks the same shingle for every
    permutation, collapsing the signature's independence.)"""
    sh = (_spread(df, id_col)
          .select(F.col(id_col),
                  F.explode(char_shingles(F.col(text_col), n)).alias("g"))
          .withColumn("_h", F.xxhash64("g")))

    def _perm(i: int) -> str:
        # murmur3 finalizer seeded per permutation: hash the string ONCE,
        # then an integer avalanche mix (xor-seed, multiply, xorshift) —
        # full bit diffusion, so min() picks independent shingles per
        # permutation at a fraction of 32 string hashes. Built as SQL
        # expression strings (one JVM parse each) — the k-wide Column-op
        # form costs ~7 py4j round-trips per permutation, ~0.2 s of
        # driver time per query at k=32 (r13 driver-cost dissection)
        seed = (0x9E3779B97F4A7C15 * (i + 1)) & 0x7FFFFFFFFFFFFFFF
        m = f"((_h ^ {seed}L) * -49064778989728563L)"  # 0xFF51AFD7ED558CCD
        return f"{m} ^ shiftrightunsigned({m}, 33)"

    mins = [F.expr(f"min({_perm(i)}) AS _m{i}") for i in range(num_perm)]
    agg = sh.groupBy(id_col).agg(*mins)
    sig = F.expr("array(" + ", ".join(f"_m{i}" for i in range(num_perm))
                 + ") AS sig")
    return agg.select(F.col(id_col), sig)


def minhash_lsh_pairs(df: DataFrame, num_perm: int = 32, bands: int = 8,
                      threshold: float = 0.5, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 5) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Signatures -> `bands` band-hashes -> equi-join docs sharing any band
    bucket -> estimate Jaccard as fraction of matching signature
    components -> threshold. Sub-quadratic: only band collisions join.
    Output: d1 < d2, est_jaccard.
    """
    rows = num_perm // bands
    # the banded frame feeds BOTH sides of the self-join; without a
    # materialization the whole signature computation runs twice.
    # localCheckpoint, not cache(): cached plans pin a CacheManager entry
    # until an explicit unpersist, leaking across repeated invocations;
    # checkpoint blocks are freed with the frame.
    sigs = (minhash_signatures(df, num_perm, id_col, text_col, n)
            .localCheckpoint(eager=True))
    band_cols = F.expr("array(" + ", ".join(
        f"xxhash64({b}, " + ", ".join(f"sig[{b * rows + r}]"
                                      for r in range(rows)) + ")"
        for b in range(bands)) + ")")
    banded = sigs.select(id_col, "sig",
                         F.posexplode(band_cols).alias("band", "bh"))
    a, b_ = banded.alias("a"), banded.alias("b")
    joined = a.join(b_, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if bands > 1:
        # first-band-wins (r13): a pair colliding in several bands is kept
        # only at its FIRST matching band, so the per-pair dedup is a
        # map-side filter recomputing earlier band hashes from the carried
        # signatures — no extra shuffle bytes. The dropDuplicates form
        # compiled to SortAggregate+Sort+Exchange+Sort+SortAggregate over
        # every candidate pair carrying BOTH k-long signatures; its
        # first(s1/s2) was value-deterministic anyway (sig is fixed per
        # doc), so the surviving rows are identical.
        def _bh(side: str, b: int) -> str:
            return f"xxhash64({b}, " + ", ".join(
                f"{side}.sig[{b * rows + r}]" for r in range(rows)) + ")"
        joined = joined.where(~F.expr(" OR ".join(
            f"(a.band > {b} AND {_bh('a', b)} = {_bh('b', b)})"
            for b in range(bands - 1))))
    cand = joined.select(F.col(f"a.{id_col}").alias("d1"),
                         F.col(f"b.{id_col}").alias("d2"),
                         F.col("a.sig").alias("s1"),
                         F.col("b.sig").alias("s2"))
    est = F.expr(
        "round(cast(size(filter(zip_with(s1, s2, (x, y) -> x = y), "
        f"m -> m)) as double) / {float(num_perm)}D, 6)")
    return (cand.withColumn("est_jaccard", est)
                .where(F.col("est_jaccard") >= threshold)
                .select("d1", "d2", "est_jaccard"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            n: int = 4, bits: int = 64) -> DataFrame:
    """SimHash: sign of per-bit weighted sums of shingle hashes.

    bit_j(doc) = 1 if sum over shingles of (+1 if hash bit j set else -1) > 0.

    Shape: explode shingles once -> one xxhash64 per (doc, shingle) ->
    single hash aggregation with 64 conditional-sum columns (map-side
    partial aggregation). No per-row array folds.
    """
    sh = (_spread(df, id_col)
            .select(F.col(id_col),
                    F.explode(char_shingles(F.col(text_col), n)).alias("g"))
            .withColumn("_h", F.xxhash64("g")))
    # SQL expression strings (shiftleft(1L, 63) IS the sign-bit mask) —
    # the 64-wide Column-op form costs ~6 py4j round-trips per bit of
    # driver time per query (r13 driver-cost dissection)
    sums = [F.expr(f"sum(CASE WHEN (_h & shiftleft(1L, {j})) <> 0 "
                   f"THEN 1 ELSE -1 END) AS _s{j}") for j in range(bits)]
    agg = sh.groupBy(id_col).agg(*sums)
    sim = F.expr(" | ".join(
        f"(CASE WHEN _s{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(bits)) + " AS simhash")
    return agg.select(F.col(id_col), sim)


MERSENNE31 = (1 << 31) - 1


def _portable_shingle_hash(g: Column) -> Column:
    """32-bit shingle hash reproducible in ANY engine with md5: first 8
    hex chars of md5 -> integer, reduced mod 2^31-1. Slower than
    xxhash64 (cryptographic hash) but bit-identical across engines."""
    return (F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
            % MERSENNE31)


def _perm_coeffs(i: int) -> tuple[int, int]:
    # deterministic universal-hash coefficients, a != 0
    a = (2654435761 * (i + 1)) % MERSENNE31 or 1
    b = (40503 * (i + 1) + 17) % MERSENNE31
    return a, b


def minhash_signatures_portable(df: DataFrame, num_perm: int = 16,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                n: int = 5) -> DataFrame:
    """Engine-portable MinHash signatures: permutation i is the universal
    hash (a_i*h + b_i) mod p over a Mersenne-31 modulus, so every
    intermediate stays below 2^62 — no 64-bit wraparound, hence
    bit-reproducible in DuckDB/ANSI SQL (which errors on BIGINT overflow
    instead of wrapping). The xxhash64 variant (minhash_signatures) stays
    the fast default; this one exists so even the APPROXIMATE dedup path
    has an exact cross-engine oracle. Output: wide columns m0..m{k-1}."""
    sh = (_spread(df, id_col)
          .select(F.col(id_col),
                  F.explode(char_shingles(F.col(text_col), n)).alias("g"))
          .withColumn("_h", _portable_shingle_hash(F.col("g"))))
    # SQL expression strings for the k-wide aggregate list (same
    # driver-cost rationale as minhash_signatures)
    mins = []
    for i in range(num_perm):
        a, b = _perm_coeffs(i)
        mins.append(F.expr(
            f"min((_h * {a}L + {b}L) % {MERSENNE31}L) AS m{i}"))
    return sh.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs_portable(df: DataFrame, num_perm: int = 16,
                               bands: int = 4, threshold: float = 0.5,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               n: int = 5) -> DataFrame:
    """MinHash+LSH near-dup pairs on the portable signature: band key is
    the concatenation of the band's signature components (string equality
    joins identically in any engine). Same sub-quadratic band-collision
    shape as minhash_lsh_pairs. Output: d1 < d2, est_jaccard."""
    rows = num_perm // bands
    # localCheckpoint for the same no-leak reason as minhash_lsh_pairs
    sigs = (minhash_signatures_portable(df, num_perm, id_col, text_col, n)
            .localCheckpoint(eager=True))
    band_keys = F.expr("array(" + ", ".join(
        "concat_ws('_', " + ", ".join(f"cast(m{b * rows + r} as string)"
                                      for r in range(rows)) + ")"
        for b in range(bands)) + ")")
    banded = sigs.select(id_col, *[f"m{i}" for i in range(num_perm)],
                         F.posexplode(band_keys).alias("band", "bk"))
    a, b_ = banded.alias("a"), banded.alias("b")
    joined = a.join(b_, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bk") == F.col("b.bk"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if bands > 1:
        # first-band-wins map-side dedup — same rationale (and identical
        # surviving rows) as minhash_lsh_pairs; the band key is
        # recomputed from the carried signature components
        def _bk(side: str, b: int) -> str:
            return "concat_ws('_', " + ", ".join(
                f"cast({side}.m{b * rows + r} as string)"
                for r in range(rows)) + ")"
        joined = joined.where(~F.expr(" OR ".join(
            f"(a.band > {b} AND {_bk('a', b)} = {_bk('b', b)})"
            for b in range(bands - 1))))
    cand = joined.select(
        F.col(f"a.{id_col}").alias("d1"),
        F.col(f"b.{id_col}").alias("d2"),
        *[F.expr(f"a.m{i} AS am{i}") for i in range(num_perm)],
        *[F.expr(f"b.m{i} AS bm{i}") for i in range(num_perm)])
    matches = " + ".join(f"(CASE WHEN am{i} = bm{i} THEN 1 ELSE 0 END)"
                         for i in range(num_perm))
    est = F.expr(f"round(cast(({matches}) as double) "
                 f"/ {float(num_perm)}D, 6)")
    return (cand.withColumn("est_jaccard", est)
                .where(F.col("est_jaccard") >= threshold)
                .select("d1", "d2", "est_jaccard"))


def simhash_portable(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 4,
                     bits: int = 31) -> DataFrame:
    """Engine-portable SimHash over the md5-derived 31-bit shingle hash:
    non-negative masks only (no sign-bit games), so the bit arithmetic
    ((h >> j) & 1, sum of 2^j masks) is identical in any engine."""
    sh = (_spread(df, id_col)
          .select(F.col(id_col),
                  F.explode(char_shingles(F.col(text_col), n)).alias("g"))
          .withColumn("_h", _portable_shingle_hash(F.col("g"))))
    # SQL expression strings (same driver-cost rationale as simhash)
    sums = [F.expr(f"sum(CASE WHEN (shiftright(_h, {j}) & 1) = 1 "
                   f"THEN 1 ELSE -1 END) AS _s{j}") for j in range(bits)]
    agg = sh.groupBy(id_col).agg(*sums)
    sim = F.expr("cast(" + " + ".join(
        f"(CASE WHEN _s{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)) + " as long) AS simhash")
    return agg.select(F.col(id_col), sim)


def dedup_clusters(pairs: DataFrame, d1: str = "d1", d2: str = "d2",
                   max_iterations: int = 25,
                   stats: dict | None = None) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    the MIN doc id reachable through pair edges as its cluster id — the
    canonical-representative step after any pairwise dedup (keep one doc
    per cluster).

    Min-label propagation with pointer jumping: each round (a) joins
    labels across edges and takes the min per node, then (b) shortcuts
    every label to ITS label (path compression), which squares the
    propagation distance — convergence in O(log diameter) rounds instead
    of O(diameter), so deep chains cannot exhaust the iteration cap.
    Convergence is detected type-agnostically: a round that changes no
    node's label is the fixpoint — each node's PREVIOUS label rides
    through the round on the row (the `__prev` aggregate below), so the
    probe is a filter + isEmpty over the already-checkpointed frame,
    not a join against the previous round's frame. This works for
    string doc ids too — labels are ordered by the column type's own
    ordering, so string-keyed clusters get the lexicographic-min id as
    their cluster id. Raises if the iteration cap is hit before the
    fixpoint rather than silently returning unconverged labels.
    localCheckpoint cuts the iterative plan lineage so the job count
    stays linear in rounds — the same execution shape GraphFrames'
    connected components uses, so it carries to 100 TB edge sets.
    """
    # materialize the edge list ONCE before iterating: every round's
    # propagation join re-executes its input plan, and `pairs` is
    # typically the expensive shingle/band self-join — uncheckpointed,
    # a 10-round run recomputed it 10x (the r13 sweep measured 46 s
    # where the pairs pipeline itself costs ~4 s).
    # localCheckpoint, not persist: the r13 optimization round measured
    # a cached (a-partitioned, a-sorted) edge list against this form on
    # a 20k-node chain graph — the cache removes the per-round edge
    # Exchange from the plan but re-decodes columnar batches on every
    # scan and flips the loop's joins to per-round driver broadcasts,
    # a consistent 1.6-2.4x wall LOSS (guide §1.1's "ideal plan is
    # usually slower at first" case; see OPTIMIZATION_r13.md).
    edges = (pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
             .unionByName(
                 pairs.select(F.col(d2).alias("a"), F.col(d1).alias("b")))
             .distinct()
             .localCheckpoint(eager=True))
    # CONTRACT: `edges` is the SYMMETRIZED closure (both directions of
    # every pair are present — built by the union above); the node set
    # and the per-round propagation below both rely on it. Because the
    # list is symmetric, the `a` side alone already names every node —
    # the old both-sides union shuffled 2x the edge rows into the same
    # distinct for the same node set. (Pinned by
    # test_text_ops.py: a-side node count == a∪b node count.)
    labels = (edges.select(F.col("a").alias("n"))
              .distinct()
              .select("n", F.col("n").alias("lbl"))
              .localCheckpoint(eager=True))
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        prop = (edges.join(labels, edges["a"] == labels["n"])
                .select(F.col("b").alias("n"), F.col("lbl"),
                        F.lit(False).alias("__s")))
        # one union + one aggregation computes BOTH the propagated min
        # and the node's previous label (__prev: min over the self row
        # only — each node has exactly one); min(union) is unchanged
        new = (labels.select("n", "lbl", F.lit(True).alias("__s"))
               .unionByName(prop)
               .groupBy("n").agg(
                   F.min("lbl").alias("lbl"),
                   F.min(F.when(F.col("__s"), F.col("lbl")))
                   .alias("__prev")))
        # pointer jump: lbl <- label(lbl). Labels are always node ids, so
        # the self-join matches; min() keeps monotonicity. (Renamed-column
        # copy, not alias: a self-join of the same plan object hits
        # attribute dedup ambiguity.)
        jump = new.select(F.col("n").alias("__jn"),
                          F.col("lbl").alias("__jlbl"))
        labels = (new.join(jump, new["lbl"] == jump["__jn"])
                  .select(new["n"].alias("n"),
                          F.least(new["lbl"], jump["__jlbl"]).alias("lbl"),
                          new["__prev"].alias("__prev"))
                  .localCheckpoint(eager=True))
        # type-agnostic fixpoint probe: any label changed this round?
        # (sum-based stall detection breaks on non-numeric ids: sum of a
        # string column is NULL, and None == None exits after one round.)
        # __prev made the probe a limit-1 filter scan of the checkpoint —
        # the old per-round probe JOIN (labels x prev, 2 exchanges + a
        # sort-merge join per round) is gone (guide §2.4). Null-safe
        # comparison: with a plain !=, a null label (null doc ids in
        # `pairs`) yields NULL -> treated as unchanged -> silent early
        # exit with garbage labels.
        if labels.where(~F.col("lbl").eqNullSafe(F.col("__prev"))).isEmpty():
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds       # observability hook for probes
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds; "
            "raise max_iterations (pointer jumping needs ~log2(diameter))")
    return labels.select(F.col("n").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def lsh_verified_pairs(df: DataFrame, est_threshold: float = 0.2,
                       true_threshold: float = 0.5,
                       num_perm: int = 16, bands: int = 4,
                       id_col: str = "doc_id", text_col: str = "text",
                       sig_n: int = 5, verify_n: int = 5) -> DataFrame:
    """Two-phase near-duplicate detection — the production shape:
    a cheap sub-quadratic CANDIDATE pass (portable MinHash+LSH at a
    permissive `est_threshold`) followed by an exact VERIFY pass that
    computes true n-gram Jaccard ONLY for the candidate pairs and keeps
    those >= `true_threshold`. Estimates never reach the output, so the
    result is exact up to LSH recall — and because the candidate stage
    is the engine-portable MinHash, the whole two-phase pipeline has an
    exact SQL oracle.

    Scale shape: the verify join touches |candidates| pairs, not
    O(n^2) — shingles are semi-joined down to candidate docs first
    (shuffle keys: doc id, then (d2, shingle); both uniform). This is
    the shape to reach for when `ngram_jaccard_pairs`' all-pairs blocking
    is too coarse and raw LSH estimates are too noisy to act on.

    verify_n defaults to sig_n: the truth must be measured over the SAME
    shingle set the signatures estimate, or the verify criterion drifts
    from the candidate criterion (a 3-gram verify against 5-gram
    signatures passed ~275x more pairs on the synthetic corpus — looser
    features, not better recall — and runtime scaled with that bloat;
    measured in round 3; PERF.md keeps the numbers).

    Output: (d1 < d2, jaccard) with jaccard the TRUE n-gram Jaccard.
    """
    cand = (minhash_lsh_pairs_portable(df, num_perm, bands, est_threshold,
                                       id_col, text_col, sig_n)
            .select("d1", "d2"))
    sh = (_spread(df, id_col)
          .select(F.col(id_col),
                  F.explode(char_shingles(F.col(text_col), verify_n))
                  .alias("g")))
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
    s1 = sh.select(F.col(id_col).alias("d1"), F.col("g"))
    s2 = sh.select(F.col(id_col).alias("d2"), F.col("g"))
    inter = (cand.join(s1, "d1")
             .join(s2, ["d2", "g"])
             .groupBy("d1", "d2")
             .agg(F.count(F.lit(1)).alias("inter")))
    c1 = cnt.select(F.col(id_col).alias("d1"), F.col("c").alias("c1"))
    c2 = cnt.select(F.col(id_col).alias("d2"), F.col("c").alias("c2"))
    jac = F.round(F.col("inter") /
                  (F.col("c1") + F.col("c2") - F.col("inter")), 6)
    return (inter.join(c1, "d1").join(c2, "d2")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= true_threshold)
            .select("d1", "d2", "jaccard"))


def winnow_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 8, w: int = 4,
                          min_shared: int = 2,
                          max_df: int | None = 50) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (text.winnow_fingerprints — the MOSS matching step, Schleimer et
    al. 2003 §4): two documents pair when they share >= min_shared
    fingerprints, i.e. >= min_shared matching runs of length
    >= k + w - 1 characters.

    Scale shape: ONE fingerprint equi-join — never all-pairs. The
    quadratic hazard is boilerplate fingerprints shared by thousands
    of documents; `max_df` drops fingerprints present in more than
    that many docs BEFORE the self-join (the stop-fingerprint filter,
    computed by a co-partitioned count on the same join key — the
    standard df-cap from the paper's index construction). Exact and
    deterministic either way, so the SQL oracle mirrors it.

    `max_df` DEFAULTS ON (50, the gated query's value): at scale the
    cap is not an optimization but the correctness of the plan shape —
    one boilerplate fingerprint shared by d documents emits d*(d-1)/2
    pair rows, so the uncapped join is quadratic in the worst key
    (the r12 winnow scale probe, PERF.md, skipped its uncapped 8x
    cell for exactly that reason). Pass max_df=None EXPLICITLY to opt
    into the uncapped join on corpora known to carry no boilerplate.

    Output: (id_a, id_b, shared) with id_a < id_b, shared = count of
    common fingerprints (post-cap), shared >= min_shared."""
    fps = text_ops.winnow_fingerprints(df, id_col, text_col, k, w)
    if max_df is not None:
        freq = (fps.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") <= max_df))
        fps = fps.join(freq.select("fp"), "fp")
    left = fps.select(F.col(id_col).alias("id_a"), "fp")
    right = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (left.join(right, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("shared"))
            .where(F.col("shared") >= min_shared))
