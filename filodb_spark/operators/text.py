"""Text-analysis operators for training-data pipelines.

All pure column expressions (JVM-side, codegen). Designed so that an
identical computation is expressible in ANSI SQL for oracle checks.
At 100 TB these are embarrassingly parallel map-only stages — no
shuffle, no Python.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword list (shared with the SQL oracles)
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return stop.cast("double") / F.size(toks).cast("double")


def avg_word_len(text: Column) -> Column:
    """Mean token length: non-space chars / token count."""
    nonspace = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    return nonspace.cast("double") / token_count(text).cast("double")


def quality_score(text: Column) -> Column:
    """Deterministic heuristic quality score in [0, 1]: length saturation
    x dilution by stopword-lessness (word salad scores low)."""
    length_part = F.least(F.lit(1.0), token_count(text).cast("double") / 100.0)
    wl = avg_word_len(text)
    shape_part = F.when((wl >= 3.0) & (wl <= 8.0), 1.0).otherwise(0.5)
    return length_part * shape_part


# GPT-2-style pre-tokenizer shape (contractions, letter runs, digit
# runs, punctuation runs, residual whitespace) restricted to portable
# regex constructs so the SQL oracle evaluates the identical pattern
BPE_SPLIT_PATTERN = (r"'s|'t|'re|'ve|'m|'ll|'d"
                     r"| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +")


def subword_count(text: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2 pre-tokenizer split
    pattern. Approximates (upper-bounds the granularity of) a trained
    BPE vocabulary's token count without shipping merges — the standard
    cheap estimator for length filtering in training-data pipelines."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)) \
        .cast("long")


ROLL_BASE = 257
ROLL_MOD = 1_000_000_007        # products stay < 2^63 — portable SQL math


def rolling_fingerprint(text: Column, k: int = 8) -> Column:
    """Rolling-hash document fingerprint: the MINIMUM Rabin-Karp
    polynomial hash over all character k-grams of the lowercased text
    (winnowing with one global window). Robust to local edits anywhere
    outside the minimizing gram — unlike whole-document hashes. The
    arithmetic is plain modular integer math so any engine reproduces
    it bit-for-bit. NULL for texts shorter than k."""
    grams = char_shingles(text, k)
    poly = F.transform(
        grams,
        lambda g: F.aggregate(
            F.sequence(F.lit(1), F.length(g)),
            F.lit(0).cast("long"),
            lambda acc, i: (acc * ROLL_BASE
                            + F.ascii(F.substr(g, i, F.lit(1)))) % ROLL_MOD))
    return F.when(F.length(F.trim(text)) >= k, F.array_min(poly))


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every POSITIONAL character
    k-gram of the lowercased text with the same portable Rabin-Karp
    arithmetic as rolling_fingerprint, slide a window of w consecutive
    hashes, keep each window's minimum, emit the distinct minima. The
    guarantee: any match of length >= k + w - 1 between two documents
    shares at least one fingerprint, while storage is ~2/(w+1) of the
    gram count — local edits perturb only nearby windows (the single
    global min of rolling_fingerprint is the w = everything special
    case). Pure modular integer math: any engine reproduces the set
    bit-for-bit, so the SQL oracle is exact.

    Map-only (transform/slice/array_min inside the row, then one
    explode) — no shuffle until a consumer aggregates. Output:
    (id, fp long), one row per distinct fingerprint; documents shorter
    than k + w - 1 characters emit no rows (strict winnowing)."""
    low = F.lower(F.col(text_col))
    grams = F.when(
        F.length(low) >= k,
        F.transform(F.sequence(F.lit(0), F.length(low) - k),
                    lambda i: F.substr(low, i + 1, F.lit(k)))
    ).otherwise(F.array().cast("array<string>"))
    hashes = F.transform(
        grams,
        lambda g: F.aggregate(
            F.sequence(F.lit(1), F.length(g)),
            F.lit(0).cast("long"),
            lambda acc, i: (acc * ROLL_BASE
                            + F.ascii(F.substr(g, i, F.lit(1)))) % ROLL_MOD))
    mins = F.expr(
        f"CASE WHEN size(h) < {int(w)} THEN cast(array() as array<bigint>) "
        f"ELSE transform(sequence(1, size(h) - {int(w)} + 1), "
        f"j -> array_min(slice(h, j, {int(w)}))) END")
    return (df.select(F.col(id_col), hashes.alias("h"))
              .select(id_col, F.explode(F.array_distinct(mins)).alias("fp")))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, whitespace collapsed). Used for exact dedup across
    formatting variants."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(F.encode(norm, "UTF-8"))


def char_shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased text (array<string>).

    Expressed with transform(sequence(...)) so it stays JVM-side; used by
    the n-gram Jaccard and MinHash dedup operators.
    """
    low = F.lower(text)
    # substr is 1-based; i ranges 0..len-n. Texts shorter than n have no
    # n-grams -> empty array (Spark's sequence(0, -1) would DESCEND, so
    # guard explicitly; the SQL oracles guard with length(text) >= n).
    grams = F.transform(F.sequence(F.lit(0), F.length(low) - n),
                        lambda i: F.substr(low, i + 1, F.lit(n)))
    return F.when(F.length(low) >= n, F.array_distinct(grams)) \
            .otherwise(F.array().cast("array<string>"))


# minimal function-word profiles per language (deterministic heuristic;
# shared verbatim with the SQL oracle)
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "las"),
}


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit ratio per language over whitespace tokens."""
    toks = tokens(text)
    n = F.size(toks).cast("double")
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words))).cast("double") / n
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language, tie-break = alphabetical language code
    ('und' = undetermined when no marker hits). A CASE chain in fixed
    order — mirrored verbatim by the SQL oracle."""
    scores = lang_scores(text)
    m = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        out = F.when(scores[lang] == m, F.lit(lang)).otherwise(out)
    return F.when(m > 0, out).otherwise(F.lit("und"))


SPLIT_BUCKETS = 10_000


def split_hash(id_col: Column, buckets: int = SPLIT_BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets): first 8 hex chars of
    md5(id) as an integer. Pure column math, portable — any engine with
    md5 reproduces it bit-for-bit (the SQL oracles do), so train/val/test
    membership is stable across engines, runs, and repartitions."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return h.cast("long") % buckets


def assign_split(df: DataFrame, id_col: str = "doc_id",
                 splits: Sequence[tuple[str, float]] = (
                     ("train", 0.9), ("val", 0.05), ("test", 0.05)),
                 ) -> DataFrame:
    """Deterministic train/val/test assignment by id hash — the standard
    leakage-safe split for training-data pipelines (a document keeps its
    split across incremental re-runs; near-dup HANDLING must still happen
    first so members of one dup cluster don't straddle splits). Map-only,
    no shuffle."""
    bucket = split_hash(F.col(id_col))
    out = None
    acc = 0.0
    for name, frac in splits:
        acc += frac
        cond = bucket < int(round(acc * SPLIT_BUCKETS))
        out = F.when(cond, F.lit(name)) if out is None else \
            out.when(cond, F.lit(name))
    return df.withColumn("split", out.otherwise(F.lit(splits[-1][0])))


def tfidf_topk(df: DataFrame, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text",
               vocab_rows: int | None = None,
               broadcast_threshold: int = 1_000_000) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = in-doc term count over
    lowercased whitespace tokens, idf = ln(N / df). Ranking uses the
    ROUNDED (6 dp) score with term as tie-break so membership is
    deterministic and engine-portable.

    Scale shape: one (doc, term) hash-aggregation; the doc-frequency side
    is |vocab| rows; top-k is a bounded window per doc. The vocab join is
    SIZE-GATED (round-2 verdict: an unconditional broadcast OOMs once
    |vocab| tracks a 100 TB corpus): pass ``vocab_rows`` (an estimate is
    fine) to broadcast only when it is under ``broadcast_threshold``,
    else a shuffled hash join on the well-distributed term key. With
    ``vocab_rows=None`` (default) neither side is forced and AQE's
    runtime statistics make the call — broadcast when the built vocab is
    actually small, shuffle otherwise.
    """
    from pyspark.sql import Window
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if vocab_rows is None:
        pass                                  # AQE decides at runtime
    elif vocab_rows < broadcast_threshold:
        dfreq = F.broadcast(dfreq)
    else:
        dfreq = dfreq.hint("shuffle_hash")    # no sort; term key is uniform
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("_n"))
    scored = (tf.join(dfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn("tfidf", F.round(
                    F.col("tf") * F.log(F.col("_n") / F.col("df")), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "tf", "df", "tfidf", "rank"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 64,
                    stride: int = 48, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split each document into overlapping context windows of
    `chunk_tokens` whitespace tokens, starting every `stride` tokens —
    the retrieval/embedding chunking stage of a training or RAG
    pipeline. Chunk j covers tokens [j*stride+1, j*stride+chunk_tokens];
    the number of chunks is 1 for docs that fit, else
    floor((n - chunk + stride - 1)/stride) + 1, so the final window is
    the only one allowed to run short. Empty docs produce no chunks.

    Map-only: per-row array slicing + one explode, no shuffle, no
    Python — embarrassingly parallel at 100 TB. Output: (id, chunk_idx,
    chunk_text, n_tok).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n == 0, F.lit(0)) \
        .when(n <= chunk_tokens, F.lit(1)) \
        .otherwise(F.floor((n - chunk_tokens + stride - 1)
                           / F.lit(float(stride))).cast("int") + 1)
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)) \
        .otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        idx,
        lambda j: F.struct(
            j.cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, j * stride + 1, chunk_tokens))
            .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - j * stride).cast("long")
            .alias("n_tok")))
    return (df.select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(id_col, "c.chunk_idx", "c.chunk_text", "c.n_tok"))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    vocab_rows: int | None = None,
                    broadcast_threshold: int = 1_000_000) -> DataFrame:
    """Corpus-unigram language-model score per document: mean natural-log
    probability of the doc's (lowercased, whitespace) tokens under an
    add-one-smoothed unigram model fit on the corpus itself — the cheap
    stand-in for the KenLM perplexity filter in CCNet-style pipelines
    (low scores = rare-token gibberish, high = stereotyped boilerplate;
    both tails get reviewed).

    Shape: one (doc, term) hash-aggregation, one term-count aggregation
    (|vocab| rows), a join back on the well-distributed term key, one
    final per-doc aggregation. The vocab join is size-gated exactly like
    tfidf_topk: pass ``vocab_rows`` to force broadcast (< threshold) or
    shuffle-hash (>=); default None lets AQE decide from runtime stats.

    Output: (id, n_tok, avg_logprob) — avg_logprob rounded to 6 dp,
    NULL for empty docs.
    """
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    if vocab_rows is None:
        pass                                  # AQE decides at runtime
    elif vocab_rows < broadcast_threshold:
        vocab = F.broadcast(vocab)
    else:
        vocab = vocab.hint("shuffle_hash")
    totals = vocab.agg(F.sum("c").alias("_total"),
                       F.count(F.lit(1)).alias("_v"))
    logp = F.log((F.col("c") + 1).cast("double")
                 / (F.col("_total") + F.col("_v")).cast("double"))
    scored = (tf.join(vocab, "term")
                .crossJoin(F.broadcast(totals))
                .groupBy(id_col)
                .agg(F.sum("tf").cast("long").alias("n_tok"),
                     F.round(F.sum(F.col("tf") * logp) / F.sum("tf"), 6)
                     .alias("avg_logprob")))
    base = df.select(F.col(id_col))
    return (base.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
                    "avg_logprob"))


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   vocab_rows: int | None = None,
                   broadcast_threshold: int = 1_000_000) -> DataFrame:
    """Corpus-bigram language-model score per document: mean natural-log
    CONDITIONAL probability ln p(w_i | w_{i-1}) of the doc's lowercased
    whitespace-token bigrams under an add-one-smoothed bigram model fit
    on the corpus itself — one order up from unigram_logprob and the
    closest SQL-expressible stand-in for the KenLM filter (catches
    word-salad that unigram stats miss: common words in impossible
    orders score low).

    Model: p(w2 | w1) = (c(w1, w2) + 1) / (ctx(w1) + V) with
    ctx(w1) = total bigram count with w1 as context and V = corpus
    distinct-token count.

    Shape: one (doc, bigram) aggregation, one (bigram) count
    aggregation, one (context) count aggregation, joins back on the
    well-distributed bigram/context keys (size-gated like
    unigram_logprob), one per-doc aggregation. Docs with < 2 tokens get
    n_bigrams 0 and NULL score.

    Output: (id, n_bigrams, avg_logprob) — avg_logprob rounded to 6 dp.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    pairs = F.when(n >= 2, F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"))) \
        .otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (df.select(F.col(id_col), F.explode(pairs).alias("p"))
          .select(id_col, F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2")))
    tf = bg.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    bgc = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c"))
    ctx = bgc.groupBy("w1").agg(F.sum("c").alias("cc"))
    if vocab_rows is None:
        pass                                  # AQE decides at runtime
    elif vocab_rows < broadcast_threshold:
        bgc, ctx = F.broadcast(bgc), F.broadcast(ctx)
    else:
        bgc, ctx = bgc.hint("shuffle_hash"), ctx.hint("shuffle_hash")
    vsize = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("t"))
             .agg(F.count_distinct("t").alias("_v")))
    logp = F.log((F.col("c") + 1).cast("double")
                 / (F.col("cc") + F.col("_v")).cast("double"))
    scored = (tf.join(bgc, ["w1", "w2"]).join(ctx, "w1")
              .crossJoin(F.broadcast(vsize))
              .groupBy(id_col)
              .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                   F.round(F.sum(F.col("tf") * logp) / F.sum("tf"), 6)
                   .alias("avg_logprob")))
    base = df.select(F.col(id_col))
    return (base.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    "avg_logprob"))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    top_k: int | None = None) -> DataFrame:
    """Adjacent-symbol pair statistics over the corpus vocabulary — the
    counting step of byte-pair-encoding tokenizer training (Sennrich et
    al. 2016, the BPE used by GPT-2-family tokenizers): words are
    (lowercased, whitespace) tokens weighted by their corpus frequency;
    each DISTINCT word decomposes into characters plus a `</w>`
    end-of-word marker, and every adjacent symbol pair contributes the
    word's frequency. The highest-count pair is the next BPE merge;
    `bpe_learn_merges` iterates merge-then-recount into a merge table.

    Shape (the 100 TB story): one corpus-wide word-count aggregation
    (vocabulary-sized output), then all pair work runs on the DISTINCT
    vocabulary — corpus size only affects the first hash aggregate.
    The pair-count frame is alphabet-bounded (a few thousand rows), so
    the final top-k sort is trivially small; everything is built-in
    expressions, no Python in the plan.

    Output: (a, b, cnt), cnt descending then (a, b) ascending for a
    deterministic order; top_k keeps the first k rows.
    """
    w = F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    wc = (df.select(w).where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    syms = wc.select("c", F.concat(
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        F.array(F.lit("</w>"))).alias("s"))
    pair = F.explode(F.expr(
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) as a, element_at(s, i + 1) as b))"
    )).alias("p")
    out = (syms.select("c", pair)
           .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
           .agg(F.sum("c").cast("long").alias("cnt"))
           .orderBy(F.desc("cnt"), "a", "b"))
    return out.limit(top_k) if top_k is not None else out


def bpe_learn_merges(df: DataFrame, n_merges: int,
                     text_col: str = "text") -> list:
    """Train a BPE merge table: n_merges rounds of count-top-pair then
    greedy left-to-right re-segmentation of the vocabulary (Sennrich et
    al. 2016 algorithm 1). Driver state is the merge list (bounded:
    n_merges rows) plus the vocabulary frame handle — the corpus is
    touched ONCE (word counts); every round runs on the distinct
    vocabulary, like the reference-free kmeans_portable loop.

    Scale note: each round is 2 scheduled Spark jobs plus a
    localCheckpoint on the vocabulary-sized frame, so a
    production-scale run (50k merges) is ~100k driver-scheduled jobs —
    the DRIVER LOOP, not the data, becomes the clock well before then.
    This loop targets the bounded tables used in training experiments
    (tens to hundreds of merges); large-vocabulary training belongs in
    a dedicated trainer, after which `bpe_encode_dict` applies the
    resulting table at O(tokens) whatever its size.

    Re-segmentation is a fold (F.aggregate) over each word's symbol
    array: append, or fuse with the accumulator's tail when
    (tail, next) equals the round's merge pair — left-to-right
    greedy, so 'l l l' under merge (l,l) gives [ll, l], and the
    shared-boundary case 'a b a b' under (a,b) gives [ab, ab] (a
    string-replace re-segmentation gets that one wrong, which is why
    this op is pinned against a pure-Python golden rather than a SQL
    oracle — see test_text_ops.TestBpe).

    Returns [((a, b), count), ...] in merge order. Deterministic:
    count ties break on (a, b) ascending.
    """
    w = F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    wc = (df.select(w).where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    syms = wc.select("c", F.concat(
        F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        F.array(F.lit("</w>"))).alias("s")).localCheckpoint()
    merges: list = []
    # size(s) < 2 (a fully-merged word) must yield NO pairs —
    # sequence(1, 0) would count DOWN through the invalid index 0
    pair = F.explode(F.expr(
        "CASE WHEN size(s) < 2 THEN array() ELSE "
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) as a, element_at(s, i + 1) as b)) "
        "END"
    )).alias("p")
    for _ in range(n_merges):
        top = (syms.select("c", pair)
               .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
               .agg(F.sum("c").cast("long").alias("cnt"))
               .orderBy(F.desc("cnt"), "a", "b").first())
        if top is None:
            break
        merges.append(((top["a"], top["b"]), top["cnt"]))
        a, b = top["a"], top["b"]
        # greedy left-to-right fuse: state = symbols emitted so far
        fuse = F.expr(
            "aggregate(s, cast(array() as array<string>), (acc, x) -> "
            # try_element_at: NULL on empty acc (a bare element_at
            # errors — AND does not short-circuit in Spark SQL)
            f"CASE WHEN try_element_at(acc, -1) = {_sq(a)} "
            f"AND x = {_sq(b)} "
            "THEN concat(slice(acc, 1, size(acc) - 1), "
            f"array(concat({_sq(a)}, {_sq(b)}))) "
            "ELSE concat(acc, array(x)) END)")
        syms = syms.select("c", fuse.alias("s")).localCheckpoint()
    return merges


def _sq(s: str) -> str:
    """SQL single-quoted literal (symbols can contain quotes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode(df: DataFrame, merges: Sequence, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Apply a learned BPE merge table (bpe_learn_merges output, or
    just its [(a, b), ...] pairs) to segment each document: per token,
    start from characters+</w> and apply every merge in training
    order — the standard BPE encoder. The merge table is baked into
    the plan as a chain of fold expressions (one per merge, like
    pq_encode's literal codebook): map-only, no shuffle, no Python in
    the plan; plan depth grows with the merge count, so this is for
    the bounded merge tables training loops iterate on (tens of
    merges). Past that, use the row-identical production twin
    `bpe_encode_dict` — broadcast rank dict + one Arrow-batched
    Pandas UDF, O(tokens) regardless of table size; the in-plan form
    not only slows linearly with merges but exceeds Catalyst's
    analyzer iteration budget past ~100 folds
    (PERF.md: at 64 merges the dict twin is ~25x faster; at 128 the
    in-plan plan fails to analyze).

    Output: one row per input row — (id, subwords array<string>,
    n_subwords). Whole-row fertility panels compose downstream.
    """
    toks = tokens(F.lower(F.col(text_col)))
    word_syms = ("transform(sequence(1, length(x)), "
                 "i -> substr(x, i, 1))")
    seq = f"concat({word_syms}, array('</w>'))"
    for m in merges:
        (a, b) = m[0] if isinstance(m[0], (tuple, list)) else m
        seq = (f"aggregate({seq}, cast(array() as array<string>), "
               f"(acc, y) -> CASE WHEN try_element_at(acc, -1) = {_sq(a)} "
               f"AND y = {_sq(b)} "
               f"THEN concat(slice(acc, 1, size(acc) - 1), "
               f"array(concat({_sq(a)}, {_sq(b)}))) "
               f"ELSE concat(acc, array(y)) END)")
    sub = F.expr(f"flatten(transform(t, x -> {seq}))")
    return (df.select(F.col(id_col), toks.alias("t"))
              .select(id_col, sub.alias("subwords"))
              .withColumn("n_subwords",
                          F.size("subwords").cast("long")))


def _bpe_table_well_formed(merges: Sequence) -> bool:
    """True when a merge table could have been produced by BPE training
    (bpe_learn_merges): every pair element is a base symbol (one char,
    or the `</w>` marker) or the output of an EARLIER merge; outputs
    are distinct, non-empty, never a base symbol; no empty elements.

    Why it matters: on a well-formed table, the production encoder's
    min-rank loop ("repeatedly merge the lowest-rank adjacent pair")
    is EXACTLY the training-order sequential application the in-plan
    bpe_encode performs — once a rank's pass is done, no later merge
    can re-create that pair, because re-creation would need a later
    output string equal to one of the pair's elements, i.e. a
    duplicate output or an output equal to a base symbol. An arbitrary
    (hand-written) table can violate that, and then the two orders
    genuinely diverge — bpe_encode_dict detects it here and drops to
    sequential application so it is row-equal to bpe_encode on EVERY
    table, not just trained ones."""
    seen: set = set()
    for m in merges:
        (a, b) = m[0] if isinstance(m[0], (tuple, list)) else m
        for sym in (a, b):
            if sym == "" or not (len(sym) == 1 or sym == "</w>"
                                 or sym in seen):
                return False
        out = a + b
        if out in seen or out == "</w>" or len(out) == 1:
            return False
        seen.add(out)
    return True


def _bpe_merge_pass(syms: list, a: str, b: str) -> list:
    """One greedy left-to-right pass fusing (a, b) — the EXACT Python
    twin of bpe_encode's fold expression ('l l l' under (l,l) ->
    [ll, l]; 'a b a b' under (a,b) -> [ab, ab]). Written as the same
    fold (fuse with the accumulator's tail), not an index scan: the
    fold re-examines the just-fused tail, which diverges from a
    two-at-a-time scan exactly when a+b == a (an empty b symbol —
    impossible in trained tables, representable in arbitrary ones,
    and the fallback path must match the in-plan fold bit-for-bit)."""
    out: list = []
    fused = a + b
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = fused
        else:
            out.append(x)
    return out


def bpe_encode_dict(df: DataFrame, merges: Sequence,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Production-scale BPE encoder: the merge table ships as a
    broadcast rank dict into ONE Arrow-batched Pandas UDF — the escape
    hatch bpe_encode's docstring promises for large vocabularies.
    Same contract and row-identical output: (id, subwords
    array<string>, n_subwords).

    Why a second encoder: bpe_encode bakes one fold expression per
    merge into the plan, so plan depth (and per-row work) is
    O(merges) — exact and dependency-free for the bounded tables the
    training loop emits, but a production GPT-2-scale table (50k
    merges) would be a 50k-deep expression tree evaluated per token.
    Here the merge table is DATA, not plan: one broadcast of the rank
    dict per job, and each word runs the standard encoder loop
    ("repeatedly fuse the lowest-rank adjacent pair", Sennrich et al.
    2016) whose cost depends on WORD LENGTH, not merge count — total
    work O(tokens), flat in the table size
    (PERF.md measures the crossover). Distinct words are memoized per batch, so repeated
    vocabulary costs one encode per batch.

    Row-equality with bpe_encode is guaranteed, not assumed: the
    min-rank loop equals training-order sequential application only on
    well-formed tables (_bpe_table_well_formed — every
    bpe_learn_merges output qualifies); an arbitrary table that
    violates well-formedness is applied sequentially instead, merge by
    merge in training order, exactly as the in-plan fold chain does.
    Pinned by the twin row-equality battery in test_text_ops.TestBpe
    (the streaming-twins discipline).

    Scale shape: tokenization and lower() stay JVM-side (the same
    `tokens()` expression bpe_encode compiles, so tokenizer semantics
    cannot drift between the twins); only the per-word merge loop —
    pure dict lookups on short lists — crosses into Python, Arrow
    batch at a time. Map-only: no shuffle, no driver data, one
    broadcast whose size is the merge table itself."""
    pairs = []
    for m in merges:
        (a, b) = m[0] if isinstance(m[0], (tuple, list)) else m
        pairs.append((a, b))
    fast = _bpe_table_well_formed(pairs)
    bc = df.sparkSession.sparkContext.broadcast((pairs, fast))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def enc(tok_arrays: pd.Series) -> pd.Series:
        pairs, fast = bc.value
        ranks = {p: i for i, p in enumerate(pairs)}
        cache: dict = {}

        def encode_word(w: str) -> list:
            got = cache.get(w)
            if got is not None:
                return got
            # chars + </w>; the empty token mirrors the in-plan
            # sequence(1, 0) descending quirk -> ["", ""]
            syms = (list(w) if w else ["", ""]) + ["</w>"]
            if fast:
                while len(syms) > 1:
                    best_rank, best = None, None
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best_rank is None
                                              or r < best_rank):
                            best_rank, best = r, (syms[i], syms[i + 1])
                    if best is None:
                        break
                    syms = _bpe_merge_pass(syms, *best)
            else:
                for a, b in pairs:
                    syms = _bpe_merge_pass(syms, a, b)
            cache[w] = syms
            return syms

        def encode_doc(toks):
            if toks is None:
                return None
            out: list = []
            for w in toks:
                out.extend(encode_word(w))
            return out

        return tok_arrays.map(encode_doc)

    toks = tokens(F.lower(F.col(text_col)))
    return (df.select(F.col(id_col), enc(toks).alias("subwords"))
              .withColumn("n_subwords",
                          F.size("subwords").cast("long")))
