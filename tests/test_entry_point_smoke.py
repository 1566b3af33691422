"""One cheap smoke test per entry point whose full battery is `slow`
(test_cli, test_repair, test_partkey, test_streaming_sources), so the
default profile still drives the CLI `query` subcommand, a repair copy,
a part-key build + append, and streaming file ingest end to end."""

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
