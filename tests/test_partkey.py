"""Part-key (series-dimension) table: build/merge/compact lifecycle,
metadata routing equivalence vs the sample-scan fallback, plan
assertions that metadata never reads the sample table when the index
is attached, and the plan-time limit estimator's exact O(series) path.

Reference semantics: PartKeyLuceneIndex.scala:329-465 (labelNames /
labelValuesEfficient, startTime/endTime postings),
MetadataExecPlan.scala:334-640.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from filodb_spark import metadata
from filodb_spark.partkey import (append_partkey_updates,
                                  compact_partkey_table,
                                  partkey_from_samples,
                                  read_partkey_table, streaming_partkey,
                                  write_partkey_table)
from filodb_spark.promql.compiler import PromQLEngine, TsStore


# slow battery: skipped by default for the driver's pytest budget (SPARK_GRAFT_RUN_SLOW=1 runs it; scripts/round_close.py does)
pytestmark = pytest.mark.slow


def _samples(spark, rows):
    """rows: (metric, ws, instance, ts, value)."""
    df = spark.createDataFrame(
        rows, "metric string, ws string, inst string, ts long, value double")
    return df.select(
        F.create_map(
            F.lit("__name__"), F.col("metric"),
            F.lit("_ws_"), F.col("ws"),
            F.lit("_ns_"), F.lit("app"),
            F.lit("instance"), F.col("inst")).alias("labels"),
        "ts", "value")


@pytest.fixture(scope="module")
def samples(spark):
    rows = []
    for metric in ("http_requests", "cpu_seconds"):
        for ws in ("demo", "prod"):
            for inst in ("a", "b", "c"):
                for k in range(10):
                    rows.append((metric, ws, inst,
                                 1_000_000 + k * 10_000,
                                 float(k) + (hash(inst) % 5)))
    return _samples(spark, rows).cache()


def test_partkey_from_samples_one_row_per_series(spark, samples):
    pk = partkey_from_samples(samples)
    got = pk.collect()
    assert len(got) == 12  # 2 metrics x 2 ws x 3 instances
    for r in got:
        assert r.first_ts == 1_000_000
        assert r.last_ts == 1_090_000
        assert r.samples == 10


def test_write_read_roundtrip_and_partitioning(spark, samples, tmp_path):
    path = str(tmp_path / "pk")
    write_partkey_table(samples, path)
    import glob
    # physically partitioned by shard-key labels like the data table
    assert glob.glob(path + "/_ws_=demo/_ns_=app/*.parquet")
    pk = read_partkey_table(spark, path)
    assert pk.count() == 12
    assert set(pk.columns) == {"labels", "_sk", "first_ts", "last_ts",
                               "samples"}


def test_append_merge_and_compact(spark, samples, tmp_path):
    path = str(tmp_path / "pk")
    write_partkey_table(samples, path)
    later = samples.withColumn("ts", F.col("ts") + 1_000_000)
    append_partkey_updates(later, path)
    pk = read_partkey_table(spark, path)
    got = {r["_sk"]: r for r in pk.collect()}
    assert len(got) == 12  # merged on read, not 24
    for r in got.values():
        assert r.first_ts == 1_000_000
        assert r.last_ts == 2_090_000
        assert r.samples == 20
    # compaction rewrites to one physical row per series
    compact_partkey_table(spark, path)
    raw = spark.read.parquet(path)
    assert raw.count() == 12
    merged = read_partkey_table(spark, path)
    assert {r["_sk"]: (r.first_ts, r.last_ts, r.samples)
            for r in merged.collect()} == \
        {k: (r.first_ts, r.last_ts, r.samples) for k, r in got.items()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_metadata_equivalence_with_and_without_partkey(spark, samples):
    plain = TsStore(samples)
    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    for fn in (lambda s: metadata.label_names(s),
               lambda s: metadata.label_values(s, "instance"),
               lambda s: metadata.label_values(s, "instance",
                                               match='http_requests{_ws_="demo"}'),
               lambda s: metadata.label_values(
                   s, "inst_missing"),
               lambda s: metadata.label_value_freqs(s, "_ws_"),
               lambda s: metadata.label_cardinality(s),
               lambda s: metadata.ts_cardinality(s),
               lambda s: metadata.ts_cardinality(
                   s, ("__name__", "_ws_"), active_after_ms=1_050_000),
               lambda s: metadata.topk_cardinality(s, ("_ws_",), k=1)):
        assert _rows(fn(plain)) == _rows(fn(indexed))


def test_series_endpoint_matches_and_carries_type(spark, samples):
    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    out = metadata.series(indexed, 'http_requests{_ws_="prod"}').collect()
    assert len(out) == 3
    for r in out:
        assert r["labels"]["_type_"] == "gauge"
        assert r["labels"]["_ws_"] == "prod"


def test_time_range_span_overlap(spark, samples):
    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    # range fully before any data -> empty; overlapping -> all series
    assert metadata.label_values(indexed, "instance",
                                 end_ms=999_999).count() == 0
    assert metadata.label_values(indexed, "instance",
                                 start_ms=1_090_000).count() == 3
    assert metadata.label_values(indexed, "instance",
                                 start_ms=1_090_001).count() == 0


def test_matchers_on_partkey_path(spark, samples):
    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    neq = metadata.series(indexed, 'http_requests{instance!="a"}')
    assert neq.count() == 4
    rex = metadata.series(indexed, '{__name__=~"cpu.*", instance=~"a|b"}')
    assert rex.count() == 4


def test_type_matcher_gates_partkey_scan(spark, samples):
    st = TsStore(samples, partkey_df=partkey_from_samples(samples))
    from filodb_spark.promql.parser import parse
    ok = st.select_partkeys(parse('http_requests{_type_="gauge"}'))
    assert ok.count() == 6
    miss = st.select_partkeys(parse('http_requests{_type_="prom-histogram"}'))
    assert miss.count() == 0


def _hist_df(spark):
    return spark.createDataFrame(
        [({"__name__": "lat", "job": "histsvc", "_ws_": "demo",
           "_ns_": "app"}, 1_000_000 + k * 10_000, 1.0, 2.0,
          ([1.0, 2.0], [1.0, 2.0])) for k in range(10)],
        "labels map<string,string>, ts long, sum double, count double, "
        "hist struct<les: array<double>, values: array<double>>")


def test_hist_schema_selectors_on_index(spark, samples):
    """select_partkeys resolves histogram metrics and their _sum/_count
    rewrites on the index (one part-key index per shard regardless of
    schema, PartKeyLuceneIndex.scala); only per-le _bucket virtual
    series fall back to the sample scan."""
    from filodb_spark.partkey import partkey_from_store
    from filodb_spark.promql.parser import parse
    hist = _hist_df(spark)
    st = TsStore(samples, hist_df=hist, hist_metrics=("lat",))
    st = TsStore(samples, hist_df=hist, hist_metrics=("lat",),
                 partkey_df=partkey_from_store(st))
    assert st.select_partkeys(parse("lat_bucket")) is None
    for m in ("lat", "lat_sum", "lat_count",
              'lat{job="histsvc"}', 'lat_sum{job="histsvc"}'):
        rows = st.select_partkeys(parse(m)).collect()
        assert len(rows) == 1, m
        assert rows[0]["labels"]["__name__"] == "lat"
        assert rows[0]["samples"] == 10
    assert st.select_partkeys(parse('lat{job="other"}')).count() == 0
    # hist metadata equivalence: index path == sample-scan fallback
    plain = TsStore(samples, hist_df=hist, hist_metrics=("lat",))
    for match in ("lat", "lat_sum", "lat_count"):
        assert _rows(metadata.series(st, match)) == \
            _rows(metadata.series(plain, match))
        assert _rows(metadata.label_values(st, "job", match=match)) == \
            _rows(metadata.label_values(plain, "job", match=match))


def test_metadata_plan_never_reads_sample_table(spark, samples, tmp_path):
    """With the index attached, metadata endpoint plans scan ONLY the
    part-key table files (the reference never touches chunks for
    metadata — MetadataExecPlan vs SelectRawPartitionsExec)."""
    from filodb_spark.sources.table import write_series_table
    data_path = str(tmp_path / "series")
    pk_path = str(tmp_path / "pk")
    write_series_table(samples, data_path)
    write_partkey_table(samples, pk_path)
    store = TsStore.from_table(spark, data_path, partkey_path=pk_path)
    files = metadata.label_values(store, "instance").inputFiles()
    assert files and all("/pk/" in f for f in files)
    assert not any("/series/" in f for f in files)
    # fallback (no index) does read the sample table
    store2 = TsStore.from_table(spark, data_path)
    files2 = metadata.label_values(store2, "instance").inputFiles()
    assert files2 and all("/series/" in f for f in files2)


def test_hist_metadata_plan_never_reads_sample_tables(spark, samples,
                                                      tmp_path):
    """With the index attached, a HIST-metric-scoped metadata lookup
    scans only part-key files — closing the r8 sliver where hist-scoped
    lookups re-opened the O(samples) path."""
    from filodb_spark.sources.table import write_series_table
    data_path = str(tmp_path / "series")
    hist_path = str(tmp_path / "hist")
    pk_path = str(tmp_path / "pk")
    write_series_table(samples, data_path)
    hist = _hist_df(spark)
    hist.write.parquet(hist_path)
    hist_disk = spark.read.parquet(hist_path)
    write_partkey_table(
        samples.select("labels", "ts")
               .unionByName(hist_disk.select("labels", "ts")), pk_path)
    store = TsStore.from_table(spark, data_path, partkey_path=pk_path,
                               hist_df=hist_disk, hist_metrics=("lat",))
    for match in ("lat", 'lat_sum{job="histsvc"}', "lat_count"):
        files = metadata.label_values(store, "job", match=match).inputFiles()
        assert files and all("/pk/" in f for f in files), match
    # _bucket virtual series: documented fallback to the hist table
    files = metadata.label_values(store, "le", match="lat_bucket").inputFiles()
    assert files and all("/hist/" in f for f in files)


def test_from_table_auto_attaches_partkey(spark, samples, tmp_path):
    """from_table probes the `<path>_partkey` sibling convention by
    default, so production mounts get the O(series) metadata path with
    no flag; partkey_path=None opts out."""
    from filodb_spark.sources.table import write_series_table
    data_path = str(tmp_path / "series")
    write_series_table(samples, data_path)
    write_partkey_table(samples, data_path + "_partkey")
    auto = TsStore.from_table(spark, data_path)
    assert auto.partkey_df is not None
    files = metadata.label_values(auto, "instance").inputFiles()
    assert files and all("series_partkey" in f for f in files)
    # explicit opt-out
    off = TsStore.from_table(spark, data_path, partkey_path=None)
    assert off.partkey_df is None
    # no sibling -> silently unattached
    solo_path = str(tmp_path / "solo")
    write_series_table(samples, solo_path)
    assert TsStore.from_table(spark, solo_path).partkey_df is None


def test_limit_estimator_exact_on_partkey(spark, samples):
    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    eng = PromQLEngine(spark, indexed)
    est = eng.estimate_time_series_scanned(
        "sum(rate(http_requests[1m]))", 1_000_000, 1_090_000, 10_000)
    assert est == 6  # exact, not approx: 2 ws x 3 instances
    # span-disjoint range estimates zero series
    assert eng.estimate_time_series_scanned(
        "http_requests", 5_000_000, 5_010_000, 10_000) == 0


def test_limit_enforcement_routes_via_partkey(spark, samples):
    from filodb_spark.promql.compiler import QueryLimitException

    class Limits:
        enforce_time_series_scanned = 5

    indexed = TsStore(samples, partkey_df=partkey_from_samples(samples))
    eng = PromQLEngine(spark, indexed)
    with pytest.raises(QueryLimitException):
        eng.enforce_plan_limits("http_requests", 1_000_000, 1_090_000,
                                10_000, Limits())
    eng.enforce_plan_limits('http_requests{_ws_="demo"}', 1_000_000,
                            1_090_000, 10_000, Limits())


def test_streaming_partkey_twin(spark, samples, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pk_path = str(tmp_path / "pk")
    ckpt = str(tmp_path / "ckpt")
    flat = samples.select(
        F.col("labels")["__name__"].alias("metric"),
        F.col("labels")["_ws_"].alias("ws"),
        F.col("labels")["instance"].alias("inst"), "ts", "value")
    flat.write.parquet(str(src), mode="overwrite")
    stream = (spark.readStream
              .schema("metric string, ws string, inst string, "
                      "ts long, value double")
              .parquet(str(src))
              .select(F.create_map(
                          F.lit("__name__"), F.col("metric"),
                          F.lit("_ws_"), F.col("ws"),
                          F.lit("_ns_"), F.lit("app"),
                          F.lit("instance"), F.col("inst")).alias("labels"),
                      "ts", "value"))
    q = (streaming_partkey(stream, pk_path, ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    pk = read_partkey_table(spark, pk_path)
    batch = {r["_sk"]: r for r in partkey_from_samples(samples).collect()}
    got = {r["_sk"]: r for r in pk.collect()}
    assert got.keys() == batch.keys()
    for k in batch:
        assert (got[k].first_ts, got[k].last_ts, got[k].samples) == \
            (batch[k].first_ts, batch[k].last_ts, batch[k].samples)


def test_ingest_comaintains_partkey_and_compaction_refreshes(spark, samples,
                                                             tmp_path):
    """Full lifecycle: streaming ingest appends sample files AND
    part-key delta rows per micro-batch; compaction rebuilds both to
    canonical form; metadata then answers from the index."""
    from filodb_spark import metadata
    from filodb_spark.sources.table import compact_series_table
    from filodb_spark.streaming.ingest import start_ingest

    src = tmp_path / "src"
    src.mkdir()
    ingest_out = str(tmp_path / "ingest")
    pk_live = str(tmp_path / "pk_live")
    table = str(tmp_path / "table")
    pk_final = str(tmp_path / "pk")
    flat = samples.select(
        F.col("labels")["__name__"].alias("metric"),
        F.col("labels")["_ws_"].alias("ws"),
        F.col("labels")["instance"].alias("inst"), "ts", "value")
    flat.write.parquet(str(src), mode="overwrite")
    stream = (spark.readStream
              .schema("metric string, ws string, inst string, "
                      "ts long, value double")
              .parquet(str(src))
              .select(F.create_map(
                          F.lit("__name__"), F.col("metric"),
                          F.lit("_ws_"), F.col("ws"),
                          F.lit("_ns_"), F.lit("app"),
                          F.lit("instance"), F.col("inst")).alias("labels"),
                      "ts", "value"))
    q = start_ingest(stream, ingest_out, str(tmp_path / "ckpt"),
                     trigger_once=True, partkey_path=pk_live)
    q.awaitTermination(120)
    # live index rows cover every ingested series with true spans
    live = read_partkey_table(spark, pk_live)
    assert live.count() == 12
    assert spark.read.parquet(ingest_out).count() == samples.count()
    # compaction rebuilds table + index in canonical form
    n = compact_series_table(spark, ingest_out, table,
                             partkey_path=pk_final)
    assert n == samples.count()
    assert spark.read.parquet(pk_final).count() == 12
    store = TsStore.from_table(spark, table, partkey_path=pk_final)
    files = metadata.label_values(store, "instance").inputFiles()
    assert files and all("/pk/" in f for f in files)
    vals = [r["value"] for r in
            metadata.label_values(store, "instance").collect()]
    assert vals == ["a", "b", "c"]


def test_raw_mount_pushes_filters_below_merge(spark, samples, tmp_path):
    """from_table mounts the RAW index shape: metric equality reaches
    the scan as a pushed filter and shard-key equality as a partition
    filter — metadata lookups prune directories/row groups instead of
    aggregating the whole index first (r8 plan-audit finding)."""
    from filodb_spark.sources.table import write_series_table
    data_path = str(tmp_path / "series")
    pk_path = str(tmp_path / "pk")
    write_series_table(samples, data_path)
    write_partkey_table(samples, pk_path)
    store = TsStore.from_table(spark, data_path, partkey_path=pk_path)
    q = metadata.label_values(store, "instance",
                              match='http_requests{_ws_="demo"}')
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(_metric,http_requests)" in plan
    assert "_ws_ = demo" in plan.replace("#", " ").replace(")", " )") or \
        "(_ws_" in plan  # partition filter present
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "_ws_" in scan_line.split("PartitionFilters:")[1]
    # values still correct vs the sample-scan fallback
    got = [r["value"] for r in q.collect()]
    want = [r["value"] for r in metadata.label_values(
        TsStore(samples), "instance",
        match='http_requests{_ws_="demo"}').collect()]
    assert got == want == ["a", "b", "c"]


def test_gauge_only_index_falls_back_for_hist_lookups(spark, samples,
                                                      tmp_path):
    """ADVICE r9: an index built from the gauge series table only
    (cli partkey-build, or an auto-attached sibling) must NOT answer a
    hist-scoped metadata lookup with a silently empty result — the
    store falls back to the sample scan when the index has no rows for
    the hist base metric."""
    from filodb_spark.promql.ast import VectorSelector
    from filodb_spark.sources.table import write_series_table
    data_path = str(tmp_path / "series")
    hist_path = str(tmp_path / "hist")
    pk_path = str(tmp_path / "pk")
    write_series_table(samples, data_path)
    hist = _hist_df(spark)
    hist.write.parquet(hist_path)
    hist_disk = spark.read.parquet(hist_path)
    # gauge-only index: hist series are NOT in it
    write_partkey_table(samples.select("labels", "ts"), pk_path)
    store = TsStore.from_table(spark, data_path, partkey_path=pk_path,
                               hist_df=hist_disk, hist_metrics=("lat",))
    # hist-scoped: falls back to the scan (non-empty, from /hist/)
    for match in ("lat", "lat_sum", "lat_count"):
        assert store.select_partkeys(
            VectorSelector(match, ())) is None, match
        out = metadata.label_values(store, "job", match=match)
        assert out.count() > 0, match
        assert all("/hist/" in f for f in out.inputFiles()), match
    # gauge-scoped lookups still answer from the index
    files = metadata.label_values(store, "instance").inputFiles()
    assert files and all("/pk/" in f for f in files)
    # coverage probe is memoized: one entry per probed metric
    assert set(store._index_cover_memo) == {"lat"}


class TestDownsampleMetadata:
    """Metadata over downsample mounts: a series that stopped emitting
    before raw retention exists only in the DS tables — the reference's
    downsample cluster answers those lookups from its own part-key
    index (DownsampledTimeSeriesShard.scala:96,132-166)."""

    BOUNDARY = 2_000_000

    @pytest.fixture()
    def ds_store(self, spark, samples):
        from filodb_spark.streaming.downsample import downsample_counter
        # raw = recent samples only; DS = full history incl. a RETIRED
        # series (inst=z) that never reaches the raw window
        retired = _samples(spark, [
            ("http_requests", "demo", "z", 100_000 + k * 10_000, float(k))
            for k in range(10)])
        from filodb_spark.kernels.binary import canonical_labels
        full = samples.unionByName(retired)
        raw = samples.where(F.col("ts") >= self.BOUNDARY - 1_500_000)
        dsc = downsample_counter(
            full.withColumn("_sk", canonical_labels(F.col("labels"))),
            ["_sk"], 60_000).drop("_sk")
        return TsStore(raw, ds_counter_df=dsc,
                       raw_retention_start_ms=self.BOUNDARY)

    def test_fallback_scan_sees_ds_only_series_pre_boundary(
            self, spark, ds_store):
        vals = [r["value"] for r in metadata.label_values(
            ds_store, "instance", match='{_ws_="demo"}',
            start_ms=0, end_ms=300_000).collect()]
        assert "z" in vals

    def test_fallback_scan_excludes_ds_for_recent_ranges(
            self, spark, ds_store):
        # start at/after the boundary: the DS union must not fire, so
        # the retired series stays invisible even though its DS rows
        # would pass no ts filter... (they would: ts < boundary) — use
        # a poison series that exists ONLY in DS within the recent range
        import dataclasses
        poison = _samples(spark, [
            ("http_requests", "demo", "ghost",
             self.BOUNDARY + 10_000, 1.0)])
        st = dataclasses.replace(
            ds_store, ds_counter_df=ds_store.ds_counter_df.unionByName(
                poison))
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=self.BOUNDARY, end_ms=self.BOUNDARY + 10_000_000
            ).collect()]
        assert "ghost" not in vals
        # ...but a pre-boundary start routes to the DS tables and sees it
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=0, end_ms=self.BOUNDARY + 10_000_000).collect()]
        assert "ghost" in vals

    def test_partkey_from_store_spans_cover_ds(self, spark, ds_store):
        from filodb_spark.partkey import partkey_from_store
        pk = partkey_from_store(ds_store)
        z = pk.where(F.col("labels")["instance"] == "z").collect()
        assert len(z) == 1
        assert z[0].first_ts == 100_000       # DS span, pre-retention
        # the index path then serves the retired series for old ranges
        import dataclasses
        st = dataclasses.replace(ds_store, partkey_df=pk)
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=0, end_ms=300_000).collect()]
        assert "z" in vals
        # and span-overlap excludes it for recent-only ranges
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=self.BOUNDARY, end_ms=self.BOUNDARY + 1).collect()]
        assert "z" not in vals

    def test_ds_gauge_rewrite_table_included(self, spark, samples):
        from filodb_spark.streaming.downsample import downsample
        retired = _samples(spark, [
            ("mem_bytes", "demo", "old", 100_000 + k * 10_000, float(k))
            for k in range(10)])
        dsg = downsample(samples.unionByName(retired),
                         ["labels"], 60_000)
        raw = samples.where(F.col("ts") >= self.BOUNDARY - 1_500_000)
        st = TsStore(raw, ds_df=dsg, raw_retention_start_ms=self.BOUNDARY)
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{__name__="mem_bytes"}',
            start_ms=0, end_ms=300_000).collect()]
        assert vals == ["old"]
        names = [r["value"] for r in metadata.label_values(
            st, "_type_", match='{instance="old"}',
            start_ms=0, end_ms=300_000).collect()]
        assert names == ["gauge"]

    def test_ds_plan_shapes(self, spark, samples, tmp_path):
        """Plan assertions for the DS-mount metadata paths: a
        recent-range fallback never opens the DS tables; a pre-boundary
        fallback reads raw+DS; the DS-covering index path reads ONLY
        index files for pre-boundary ranges."""
        import dataclasses

        from filodb_spark.kernels.binary import canonical_labels
        from filodb_spark.partkey import write_partkey_table
        from filodb_spark.streaming.downsample import downsample_counter
        raw_path = str(tmp_path / "series")
        dsc_path = str(tmp_path / "dsc")
        pk_path = str(tmp_path / "pk")
        samples.where(F.col("ts") >= self.BOUNDARY - 1_500_000) \
            .write.parquet(raw_path)
        downsample_counter(
            samples.withColumn("_sk",
                               canonical_labels(F.col("labels"))),
            ["_sk"], 60_000).drop("_sk").write.parquet(dsc_path)
        raw = spark.read.parquet(raw_path)
        dsc = spark.read.parquet(dsc_path)
        store = TsStore(raw, ds_counter_df=dsc,
                        raw_retention_start_ms=self.BOUNDARY)
        # recent range: DS tables must not appear in the scan set
        files = metadata.label_values(
            store, "instance", start_ms=self.BOUNDARY,
            end_ms=self.BOUNDARY + 10_000_000).inputFiles()
        assert files and all("/series/" in f for f in files)
        # pre-boundary range: raw + DS unioned
        files = metadata.label_values(
            store, "instance", start_ms=0,
            end_ms=self.BOUNDARY - 1).inputFiles()
        assert any("/dsc/" in f for f in files)
        # DS-covering index: only index files for the same lookup
        write_partkey_table(
            raw.select("labels", "ts")
               .unionByName(dsc.select("labels", "ts")), pk_path,
            covers_ds=True)
        from filodb_spark.partkey import open_partkey_table
        st = dataclasses.replace(
            store, partkey_df=open_partkey_table(spark, pk_path),
            partkey_covers_ds=True)
        files = metadata.label_values(
            st, "instance", start_ms=0,
            end_ms=self.BOUNDARY - 1).inputFiles()
        assert files and all("/pk/" in f for f in files)

    def test_raw_only_index_falls_back_for_preboundary(
            self, spark, ds_store):
        """An attached index of unknown/raw-only provenance must NOT
        answer a pre-retention range (it would silently miss retired
        series); metadata falls back to the scan, which unions the DS
        tables. Recent ranges keep the index path."""
        import dataclasses
        pk = partkey_from_samples(ds_store.df.select("labels", "ts"))
        st = dataclasses.replace(ds_store, partkey_df=pk)  # covers_ds None
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=0, end_ms=300_000).collect()]
        assert "z" in vals            # served by the scan fallback
        # recent range: the raw-only index is authoritative
        vals = [r["value"] for r in metadata.label_values(
            st, "instance", match='{_ws_="demo"}',
            start_ms=self.BOUNDARY,
            end_ms=self.BOUNDARY + 10_000_000).collect()]
        assert "z" not in vals

    def test_partkey_from_store_does_not_double_count_samples(
            self, spark, ds_store):
        from filodb_spark.partkey import partkey_from_store
        pk = partkey_from_store(ds_store)
        live = pk.where(F.col("labels")["instance"] == "a") \
                 .where(F.col("labels")["__name__"] == "http_requests") \
                 .where(F.col("labels")["_ws_"] == "demo").collect()
        assert len(live) == 1
        # raw-side count only (the DS rows derive from the same data);
        # raw here holds the recent slice of the 10-sample series
        raw_n = ds_store.df.where(
            (F.col("labels")["instance"] == "a")
            & (F.col("labels")["__name__"] == "http_requests")
            & (F.col("labels")["_ws_"] == "demo")).count()
        assert live[0]["samples"] == raw_n
        # retired series: DS row count stands in (lower bound)
        z = pk.where(F.col("labels")["instance"] == "z").first()
        assert 0 < z["samples"] <= 10

    def test_manifest_roundtrip_and_compaction(self, spark, samples,
                                               tmp_path):
        from filodb_spark.partkey import (compact_partkey_table,
                                          read_partkey_manifest)
        pk_path = str(tmp_path / "pk")
        write_partkey_table(samples, pk_path, covers_ds=True)
        assert read_partkey_manifest(spark, pk_path) == \
            {"covers_ds": True}
        append_partkey_updates(samples.limit(5), pk_path)
        compact_partkey_table(spark, pk_path)
        # provenance survives the compaction swap
        assert read_partkey_manifest(spark, pk_path) == \
            {"covers_ds": True}

    def test_write_with_ds_frame_keeps_samples_raw_side(
            self, spark, samples, tmp_path):
        """ds_samples_df extends SPANS only: a live series' `samples`
        stays the raw-side count (DS rows are derived from raw rows —
        a plain union would double-count, skewing the window plan's
        scrape-interval estimate), and a retired DS-only series gets
        the DS count as a stand-in. covers_ds defaults to True."""
        from filodb_spark.partkey import (read_partkey_manifest,
                                          read_partkey_table)
        pk_path = str(tmp_path / "pk_ds")
        # DS frame: every live series at an earlier ts, plus one
        # retired series that has no raw rows at all
        ds = samples.select(
            "labels", (F.col("ts") - 500_000).alias("ts")).unionByName(
            spark.createDataFrame(
                [({"__name__": "gone", "_ws_": "demo", "_ns_": "app"},
                  100_000)], "labels map<string,string>, ts long"))
        write_partkey_table(samples, pk_path, ds_samples_df=ds)
        assert read_partkey_manifest(spark, pk_path) == \
            {"covers_ds": True}
        pk = read_partkey_table(spark, pk_path)
        live = pk.where(F.col("labels")["__name__"] != "gone").collect()
        assert len(live) == 12
        for r in live:
            assert r["samples"] == 10          # raw-side count only
            assert r["first_ts"] == 500_000    # span extended by DS
            assert r["last_ts"] == 1_090_000
        gone = pk.where(F.col("labels")["__name__"] == "gone").first()
        assert gone["samples"] == 1 and gone["first_ts"] == 100_000
