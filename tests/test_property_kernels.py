"""Property-style randomized validation: 60 random series (irregular
cadence, NaN gaps, counter resets, duplicate timestamps) evaluated in a
single Spark job per function, compared against the pure-Python
Prometheus/FiloDB model. Deterministic seed — reproducible."""

import math
import random

import pytest

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function
from tests.test_range_fns import py_extrapolated_rate


# slow battery: skipped by default for the driver's pytest budget (SPARK_GRAFT_RUN_SLOW=1 runs it; scripts/round_close.py does)
pytestmark = pytest.mark.slow

SEED = 42
N_SERIES = 60
T_END = 1_000_000
WINDOW = 300_000
GRID = StepGrid(200_000, T_END, 100_000)


def gen_series(rng: random.Random):
    """Random series with adversarial shapes."""
    n = rng.randint(0, 40)
    ts = sorted(rng.randint(0, T_END) for _ in range(n))
    out = []
    v = rng.uniform(0, 100)
    for t in ts:
        r = rng.random()
        if r < 0.05:
            val = float("nan")          # stale marker
        elif r < 0.15:
            v = rng.uniform(0, 5)       # counter reset
            val = v
        else:
            v += rng.uniform(0, 10)
            val = v
        out.append((t, val))
    return out


def random_series_data(spark):
    """(frame, clean model, counter-reset model) of the N_SERIES random
    series."""
    rng = random.Random(SEED)
    data = {f"s{i}": gen_series(rng) for i in range(N_SERIES)}
    rows = [(k, int(t), float(v)) for k, ss in data.items() for t, v in ss]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    # mirror engine dedupe (max per ts)
    clean = {}
    for k, ss in data.items():
        by_ts = {}
        for t, v in ss:
            if not math.isnan(v):
                by_ts[t] = max(by_ts.get(t, float("-inf")), v)
        clean[k] = sorted(by_ts.items())
    # cumulative-counter view (rate/increase/irate): Spark's max() ranks
    # NaN above every number, so a NaN wins the dedupe; the kernel then
    # reads the NaN reset marker as 0 (CUMULATIVE_COUNTER_FNS)
    clean_reset = {}
    for k, ss in data.items():
        by_ts = {}
        for t, v in ss:
            cur = by_ts.get(t, float("-inf"))
            by_ts[t] = float("nan") if (math.isnan(v) or math.isnan(cur)) \
                else max(cur, v)
        clean_reset[k] = sorted(
            (t, 0.0 if math.isnan(v) else v) for t, v in by_ts.items())
    from pyspark.sql import functions as F
    df = df.groupBy("series", "ts").agg(F.max("value").alias("value"))
    return df, clean, clean_reset


@pytest.fixture(scope="module")
def random_series(spark):
    return random_series_data(spark)


def windows(clean):
    for k, ss in clean.items():
        for gi in range(GRID.n_steps):
            t = GRID.start + gi * GRID.step
            w = [(ts, v) for ts, v in ss if t - WINDOW <= ts <= t]
            if w:
                yield k, t, w


def run_all(spark, df, fn, params=()):
    out = range_function(df, fn, ["series"], GRID, WINDOW, params=params)
    return {(r["series"], r["t"]): r["value"] for r in out.collect()}


def check(got, clean, model, name):
    mismatches = []
    count = 0
    for k, t, w in windows(clean):
        count += 1
        expected = model(t, w)
        actual = got.get((k, t))
        if expected is None:
            continue
        if math.isnan(expected):
            ok = actual is None or math.isnan(actual)
        else:
            ok = actual is not None and math.isclose(
                actual, expected, rel_tol=1e-9, abs_tol=1e-9)
        if not ok:
            mismatches.append((k, t, expected, actual))
    assert count > 100, "test fixture produced too few windows"
    assert not mismatches, f"{name}: {mismatches[:5]} ({len(mismatches)} bad)"


class TestRandomizedKernels:
    def test_rate(self, spark, random_series):
        df, _, clean_reset = random_series
        got = run_all(spark, df, "rate")
        check(got, clean_reset,
              lambda t, w: py_extrapolated_rate(t - WINDOW, t, w, True, True),
              "rate")

    def test_increase(self, spark, random_series):
        df, _, clean_reset = random_series
        got = run_all(spark, df, "increase")
        check(got, clean_reset,
              lambda t, w: py_extrapolated_rate(t - WINDOW, t, w, True, False),
              "increase")

    def test_delta(self, spark, random_series):
        df, clean, _ = random_series
        got = run_all(spark, df, "delta")
        check(got, clean,
              lambda t, w: py_extrapolated_rate(t - WINDOW, t, w, False, False),
              "delta")

    def test_sum_count_min_max(self, spark, random_series):
        df, clean, _ = random_series
        for fn, red in [("sum_over_time", sum),
                        ("count_over_time", len),
                        ("min_over_time", min),
                        ("max_over_time", max)]:
            got = run_all(spark, df, fn)
            check(got, clean,
                  lambda t, w, red=red: float(red([v for _, v in w])),
                  fn)

    def test_stddev(self, spark, random_series):
        df, clean, _ = random_series

        def model(t, w):
            vs = [v for _, v in w]
            m = sum(vs) / len(vs)
            return math.sqrt(sum((x - m) ** 2 for x in vs) / len(vs))

        check(run_all(spark, df, "stddev_over_time"), clean, model,
              "stddev_over_time")

    def test_quantile(self, spark, random_series):
        import numpy as np
        df, clean, _ = random_series
        got = run_all(spark, df, "quantile_over_time", params=(0.75,))
        check(got, clean,
              lambda t, w: float(np.quantile([v for _, v in w], 0.75)),
              "quantile_over_time")

    def test_resets_changes(self, spark, random_series):
        df, clean, _ = random_series

        def resets(t, w):
            vs = [v for _, v in w]
            return float(sum(1 for a, b in zip(vs, vs[1:]) if b < a))

        def changes(t, w):
            vs = [v for _, v in w]
            return float(sum(1 for a, b in zip(vs, vs[1:]) if b != a))

        check(run_all(spark, df, "resets"), clean, resets, "resets")
        check(run_all(spark, df, "changes"), clean, changes, "changes")

    def test_idelta_irate(self, spark, random_series):
        # last two in-window samples; irate is reset-aware AND
        # counter-corrected (NaN reads as a 0 reset marker), idelta is
        # gauge (NaN dropped) — RangeInstantFunctions.scala:168-303
        df, clean, clean_reset = random_series

        def idelta(t, w):
            if len(w) < 2:
                return None
            return w[-1][1] - w[-2][1]

        def irate(t, w):
            if len(w) < 2:
                return None
            (t1, v1), (t2, v2) = w[-2], w[-1]
            num = v2 - v1 if v2 >= v1 else v2
            return num / ((t2 - t1) / 1000.0)

        check(run_all(spark, df, "idelta"), clean, idelta, "idelta")
        check(run_all(spark, df, "irate"), clean_reset, irate, "irate")

    def test_deriv(self, spark, random_series):
        # least-squares slope, x anchored at the step instant (seconds)
        df, clean, _ = random_series

        def model(t, w):
            if len(w) < 2:
                return None
            xs = [(ts - t) / 1000.0 for ts, _ in w]
            ys = [v for _, v in w]
            n = len(w)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(x * y for x, y in zip(xs, ys))
            sxx = sum(x * x for x in xs)
            cov = sxy / n - (sx / n) * (sy / n)
            var = sxx / n - (sx / n) * (sx / n)
            return cov / var if var > 0 else None

        check(run_all(spark, df, "deriv"), clean, model, "deriv")

    def test_z_score_and_mad(self, spark, random_series):
        import statistics
        df, clean, _ = random_series

        def z(t, w):
            vs = [v for _, v in w]
            m = sum(vs) / len(vs)
            sd = math.sqrt(sum((x - m) ** 2 for x in vs) / len(vs))
            return (w[-1][1] - m) / sd if sd > 0 else None

        def mad(t, w):
            vs = [v for _, v in w]
            med = statistics.median(vs)
            return statistics.median([abs(x - med) for x in vs])

        check(run_all(spark, df, "z_score"), clean, z, "z_score")
        check(run_all(spark, df, "mad_over_time"), clean, mad,
              "mad_over_time")


class TestRandomizedSetOps:
    """Random label universes x timesteps vs a python model of
    SetOperatorExec per-(joinkey, timestep) presence semantics."""

    def _fixture(self):
        rng = random.Random(7)
        labels_pool = [{"job": j, "inst": str(i)}
                       for j in ("a", "b", "c") for i in range(4)]
        steps = [1000 * k for k in range(6)]

        def side(metric):
            rows = []
            for lab in labels_pool:
                for t in steps:
                    r = rng.random()
                    if r < 0.4:
                        continue
                    v = float("nan") if r < 0.5 else rng.uniform(1, 9)
                    rows.append(({**lab, "__name__": metric}, t, v))
            return rows

        return side("l"), side("r")

    @staticmethod
    def _key(lab, on):
        return tuple(sorted((k, v) for k, v in lab.items() if k in on))

    def test_and_or_unless_model(self, spark):
        lhs_rows, rhs_rows = self._fixture()
        lhs = spark.createDataFrame(
            lhs_rows, "labels map<string,string>, t long, value double")
        rhs = spark.createDataFrame(
            rhs_rows, "labels map<string,string>, t long, value double")
        from filodb_spark.kernels.binary import set_op
        on = ["job", "inst"]
        r_present = {(self._key(lab, on), t)
                     for lab, t, v in rhs_rows if not math.isnan(v)}
        l_present = {(self._key(lab, on), t)
                     for lab, t, v in lhs_rows if not math.isnan(v)}

        def canon(rows):
            return sorted((tuple(sorted(lab.items())), t,
                           "nan" if math.isnan(v) else round(v, 9))
                          for lab, t, v in rows)

        got = [(dict(r["labels"]), r["t"], r["value"])
               for r in set_op(lhs, rhs, "and", on=on).collect()]
        exp = [(lab, t, v) for lab, t, v in lhs_rows
               if (self._key(lab, on), t) in r_present]
        assert canon(got) == canon(exp)

        got = [(dict(r["labels"]), r["t"], r["value"])
               for r in set_op(lhs, rhs, "unless", on=on).collect()]
        exp = [(lab, t, v) for lab, t, v in lhs_rows
               if (self._key(lab, on), t) not in r_present]
        assert canon(got) == canon(exp)

        got = [(dict(r["labels"]), r["t"], r["value"])
               for r in set_op(lhs, rhs, "or", on=on).collect()]
        exp = list(lhs_rows) + [
            (lab, t, v) for lab, t, v in rhs_rows
            if (self._key(lab, on), t) not in l_present]
        assert canon(got) == canon(exp)


class TestTimeseriesOpsRandomized:
    """asof_join / dedup_clusters vs brute-force pure-Python models on
    randomized inputs (deterministic seed)."""

    def test_asof_join_matches_bruteforce_model(self, spark):
        rng = random.Random(7)
        keys = [f"k{i}" for i in range(8)]
        left = [(k, rng.randint(0, 1000), float(i))
                for i, k in enumerate(rng.choices(keys, k=80))]
        right = [(k, rng.randint(0, 1000), float(1000 + i))
                 for i, k in enumerate(rng.choices(keys, k=60))]
        # unique (k, ts) per side (asof contract after dedupe)
        left = list({(k, t): (k, t, v) for k, t, v in left}.values())
        right = list({(k, t): (k, t, v) for k, t, v in right}.values())
        tol = 150

        from filodb_spark.operators.timeseries import asof_join
        ldf = spark.createDataFrame(left, "k string, ts long, lv double")
        rdf = spark.createDataFrame(right, "k string, ts long, rv double")
        got = {(r.k, r.ts): (r.r_ts, r.r_rv)
               for r in asof_join(ldf, rdf, ["k"], payload_cols=["rv"],
                                  tolerance_ms=tol).collect()}

        for k, t, _ in left:
            cands = [(rt, rv) for rk, rt, rv in right
                     if rk == k and rt <= t and t - rt <= tol]
            want = max(cands) if cands else (None, None)
            assert got[(k, t)] == want, (k, t)

    def test_dedup_clusters_matches_union_find(self, spark):
        rng = random.Random(11)
        edges = {(rng.randint(0, 60), rng.randint(0, 60))
                 for _ in range(70)}
        edges = [(a, b) for a, b in edges if a != b]

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        want = {n: find(n) for n in parent}

        from filodb_spark.operators.dedup import dedup_clusters
        pdf = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {r.doc_id: r.cluster_id for r in dedup_clusters(pdf).collect()}
        # min-id of each component == union-find root chosen as min
        comp = {}
        for n, r in want.items():
            comp.setdefault(r, []).append(n)
        expect = {n: min(members) for r, members in comp.items()
                  for n in members}
        assert got == expect


class TestPipelineOpsRandomized:
    """Round-3 pipeline operators vs pure-Python models on randomized
    corpora (deterministic seed)."""

    def _corpus(self, rng, n=40):
        words = [f"w{i}" for i in range(30)]
        return [(i, " ".join(rng.choices(words, k=rng.randint(0, 25))))
                for i in range(n)]

    def test_chunk_documents_model(self, spark):
        rng = random.Random(3)
        docs = self._corpus(rng)
        chunk, stride = 7, 4
        from filodb_spark.operators.text import chunk_documents
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tok)
               for r in chunk_documents(df, chunk, stride).collect()}

        want = {}
        for i, text in docs:
            toks = text.split()
            n = len(toks)
            if n == 0:
                continue
            nc = 1 if n <= chunk else (n - chunk + stride - 1) // stride + 1
            for j in range(nc):
                piece = toks[j * stride: j * stride + chunk]
                want[(i, j)] = (" ".join(piece), len(piece))
        assert got == want
        # coverage property: every token index lands in >= 1 chunk
        for i, text in docs:
            n = len(text.split())
            covered = set()
            for (d, j), (_, ln) in want.items():
                if d == i:
                    covered.update(range(j * stride, j * stride + ln))
            assert covered == set(range(n))

    def test_segment_dedup_model(self, spark):
        rng = random.Random(5)
        docs = self._corpus(rng)
        seg_tokens = 3
        from filodb_spark.operators.dedup import segment_dedup
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.doc_id: (r.n_seg, r.n_kept) for r in
               segment_dedup(df, seg_tokens=seg_tokens).collect()}

        seen = set()
        for i, text in sorted(docs):
            toks = text.split()
            segs = [" ".join(toks[j: j + seg_tokens])
                    for j in range(0, len(toks), seg_tokens)]
            kept = 0
            for s in segs:
                key = s.lower()
                if key not in seen:
                    seen.add(key)
                    kept += 1
            assert got[i] == (len(segs), kept), i

    def test_pack_sequences_model(self, spark):
        rng = random.Random(9)
        docs = self._corpus(rng, n=60)
        budget, shards = 10, 3
        from filodb_spark.operators.pipeline import pack_sequences
        from filodb_spark.operators.text import split_hash
        from pyspark.sql import functions as F
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        shard_of = {r.doc_id: r.s % shards for r in
                    df.select("doc_id",
                              split_hash(F.col("doc_id")).alias("s"))
                    .collect()}
        got = sorted((r.shard, r.seq_id, r.doc_id, r.tok_start, r.n_tok)
                     for r in pack_sequences(df, budget=budget,
                                             shards=shards).collect())

        want = []
        for sh in range(shards):
            off = 0
            for i, text in sorted(d for d in docs if shard_of[d[0]] == sh):
                n = len(text.split())
                if n == 0:
                    continue
                start, end = off, off + n
                for seq in range(start // budget, (end - 1) // budget + 1):
                    lo = max(start, seq * budget)
                    hi = min(end, (seq + 1) * budget)
                    want.append((sh, seq, i, lo - start + 1, hi - lo))
                off = end
        assert got == sorted(want)

    def test_mix_sources_model(self, spark):
        rng = random.Random(13)
        from filodb_spark.operators.pipeline import mix_sources
        from filodb_spark.operators.text import SPLIT_BUCKETS, split_hash
        from pyspark.sql import functions as F
        docs = [(i, rng.choice(["a", "b", "c"])) for i in range(50)]
        weights = {"a": 2.25, "b": 0.5}
        df = spark.createDataFrame(docs, ["doc_id", "source"])
        buckets = {r.doc_id: r.b for r in
                   df.select("doc_id",
                             split_hash(F.col("doc_id")).alias("b"))
                   .collect()}
        got = sorted((r.doc_id, r.copy_idx)
                     for r in mix_sources(df, weights).collect())
        want = []
        for i, s in docs:
            w = weights.get(s, 1.0)
            k = int(w) + (1 if buckets[i] < round((w - int(w)) * SPLIT_BUCKETS)
                          else 0)
            want.extend((i, c) for c in range(1, k + 1))
        assert got == sorted(want)
