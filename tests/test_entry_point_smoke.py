"""One cheap smoke test per entry point whose full battery is `slow`
(test_cli, test_repair, test_partkey, test_streaming_sources,
test_cardbuster, test_streaming_preagg, test_planner_corpus,
test_property_kernels), so the default profile still drives the CLI
`query` subcommand, a repair copy, a part-key build + append, streaming
file ingest, a cardinality bust, the streaming pre-aggregation producer,
the planner-spec corpus and the randomized kernel model end to end."""

from __future__ import annotations

import contextlib
import io
import json

from pyspark.sql import functions as F

T0 = 1_700_000_000_000
HOUR = 3_600_000


def _series(spark, n=6):
    return spark.createDataFrame(
        [({"__name__": m, "_ws_": "w", "_ns_": "n", "instance": i},
          T0 + k * HOUR, float(k))
         for m in ("a", "b") for i in ("x", "y") for k in range(n)],
        "labels map<string,string>, ts long, value double")


def test_cli_query(spark):
    from filodb_spark.cli import main
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["query", "sum(count_over_time(purchase[24h]))",
                   "--store", "events:/root/testdata/sf0.001",
                   "--start", "1704153600", "--end", "1704585600",
                   "--step", "86400"])
    assert rc == 0
    resp = json.loads(buf.getvalue())
    assert resp["status"] == "success"
    [series] = resp["data"]["result"]
    assert len(series["values"]) == 6


def test_repair_copy_time_slice(spark, tmp_path):
    from filodb_spark.operators.repair import (copy_time_slice,
                                               validate_time_slice)
    from filodb_spark.sources.table import write_series_table
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_series_table(_series(spark), src)
    write_series_table(_series(spark).where(F.col("ts") >= T0 + 3 * HOUR),
                       dst)
    band = (T0, T0 + 3 * HOUR)
    assert validate_time_slice(spark, src, dst, *band)["source_only"] == 12
    assert copy_time_slice(spark, src, dst, *band) == 12
    v = validate_time_slice(spark, src, dst, T0, T0 + 6 * HOUR)
    assert v["source_only"] == v["target_only"] == 0
    assert v["source_rows"] == v["target_rows"] == 24


def test_partkey_build_and_append(spark, tmp_path):
    from filodb_spark.partkey import (append_partkey_updates,
                                      read_partkey_table, write_partkey_table)
    path = str(tmp_path / "pk")
    samples = _series(spark)
    write_partkey_table(samples, path)
    append_partkey_updates(
        samples.withColumn("ts", F.col("ts") + 6 * HOUR), path)
    got = read_partkey_table(spark, path).collect()
    assert len(got) == 4                      # merged on read per series
    assert {(r.first_ts, r.last_ts, r.samples) for r in got} == \
        {(T0, T0 + 11 * HOUR, 12)}


def test_streaming_file_ingest(spark, tmp_path):
    from filodb_spark.streaming.ingest import parse_json_records, start_ingest
    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    recs = [{"metric": "m", "tags": {"job": "w"}, "ts": T0 + i * 1000,
             "value": float(i)} for i in range(3)]
    with open(src / "batch.json", "w") as f:
        for r in [*recs, recs[0]]:            # the duplicate is dropped
            f.write(json.dumps({"value": json.dumps(r)}) + "\n")
    raw = spark.readStream.schema("value string").json(str(src))
    q = start_ingest(parse_json_records(raw), str(out),
                     str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 3
    assert got.where(F.col("labels")["__name__"] == "m").count() == 3


def test_cardbuster_bust(spark, tmp_path):
    from filodb_spark.operators.cardbuster import bust
    from filodb_spark.partkey import read_partkey_table, write_partkey_table
    from filodb_spark.sources.table import write_series_table
    data, pk = str(tmp_path / "series"), str(tmp_path / "pk")
    write_series_table(_series(spark), data)
    write_partkey_table(_series(spark), pk)
    stats = bust(spark, data, pk, [{"instance": "x"}], simulate=False)
    assert stats["series_deleted"] == stats["partkeys_deleted"] == 2
    left = spark.read.parquet(data)
    assert left.count() == 12
    assert left.where(F.col("labels")["instance"] == "x").count() == 0
    assert read_partkey_table(spark, pk).count() == 2


def test_streaming_preagg_matches_batch(spark, tmp_path):
    from filodb_spark.streaming.preagg import build_preagg, streaming_preagg
    from tests.test_streaming_preagg import RES, RULE, RULES, _raw_rows
    schema = "labels map<string,string>, ts long, value double"
    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for lab, ts, v in _raw_rows():
            f.write(json.dumps({"labels": lab, "ts": ts, "value": v}) + "\n")
    stream = spark.readStream.schema(schema).json(str(src))
    q = (streaming_preagg(stream, "cpu", RULE, RES,
                          watermark_delay="0 seconds")
         .writeStream.format("parquet").option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    def key(r):
        return (tuple(sorted(r["labels"].items())), r["ts"], r["value"])
    got = {key(r) for r in spark.read.parquet(str(out)).collect()}
    batch = {key(r) for r in build_preagg(
        spark.createDataFrame(_raw_rows(), schema), RULES, RES).collect()}
    # append mode withholds the windows the watermark has not closed
    assert got and got <= batch and len(got) >= len(batch) - 2 * 4


def test_planner_corpus_sample_compiles(spark):
    from tests.planner_spec_corpus import INSTANT_ONLY, RANGE_QUERIES
    from tests.test_planner_corpus import T0, corpus_engine
    engine = corpus_engine(spark)
    for q in RANGE_QUERIES[::10]:
        engine.query_range(q, T0, T0 + 600_000, 120_000)
    engine.query_instant(INSTANT_ONLY[0], T0 + 300_000)


def test_property_kernels_rate(spark):
    from tests.test_property_kernels import (WINDOW, check,
                                             random_series_data, run_all)
    from tests.test_range_fns import py_extrapolated_rate
    df, _, clean_reset = random_series_data(spark)
    check(run_all(spark, df, "rate"), clean_reset,
          lambda t, w: py_extrapolated_rate(t - WINDOW, t, w, True, True),
          "rate")
