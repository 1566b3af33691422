"""Prometheus remote-write ingestion: codec round trip, HTTP gateway
endpoint, end-to-end write -> query, and the parallel (mapInPandas)
frame decoder's row-equality with the driver-side decode."""

import urllib.request

import pytest
from pyspark.sql import functions as F

from filodb_spark.remote_read import snappy_compress
from filodb_spark.remote_write import (WriteBuffer, decode_write_request,
                                       encode_write_request,
                                       frames_to_records)

SERIES = [
    ({"__name__": "cpu_usage", "job": "api", "instance": "i-1"},
     [(1_700_000_000_000, 0.5), (1_700_000_060_000, 0.75)]),
    ({"__name__": "cpu_usage", "job": "api", "instance": "i-2"},
     [(1_700_000_000_000, 1.25)]),
    ({"__name__": "mem_bytes", "job": "db"},
     [(1_700_000_030_000, 1e9), (1_700_000_090_000, -1.0)]),
]


class TestCodec:
    def test_roundtrip(self):
        raw = encode_write_request(SERIES)
        got = decode_write_request(raw)
        assert got == [(labels, samples) for labels, samples in SERIES]

    def test_negative_and_float_values_survive(self):
        got = decode_write_request(encode_write_request(SERIES))
        assert got[2][1][1] == (1_700_000_090_000, -1.0)
        assert got[0][1][1] == (1_700_000_060_000, 0.75)

    def test_negative_timestamps_roundtrip(self):
        """Pre-epoch timestamps: protobuf int64 negatives are 10-byte
        two's-complement varints — encode must mask (not hang) and
        decode must sign-extend (not misread as a huge positive)."""
        series = [({"__name__": "old"},
                   [(-1, 1.0), (-62_135_596_800_000, 2.0),
                    (-(1 << 62), 3.0), (0, 4.0)])]
        got = decode_write_request(encode_write_request(series))
        assert got[0][1] == series[0][1]


class TestWriteBuffer:
    def test_append_and_query(self, spark):
        buf = WriteBuffer(spark)
        n = buf.append(snappy_compress(encode_write_request(SERIES)))
        assert n == 5 and buf.n_samples == 5
        df = buf.to_df()
        assert df.count() == 5
        got = {(r["labels"]["__name__"], r["ts"], r["value"])
               for r in df.collect()}
        assert ("cpu_usage", 1_700_000_000_000, 0.5) in got
        assert ("mem_bytes", 1_700_000_090_000, -1.0) in got

    def test_max_rows_cap(self, spark):
        buf = WriteBuffer(spark, max_rows=5)
        body = snappy_compress(encode_write_request(SERIES))
        assert buf.append(body) == 5
        with pytest.raises(ValueError, match="WriteBuffer full"):
            buf.append(body)
        assert buf.n_samples == 5  # rejected write left no partial rows

    def test_write_then_promql(self, spark):
        from filodb_spark.promql import PromQLEngine
        buf = WriteBuffer(spark)
        buf.append(snappy_compress(encode_write_request(SERIES)))
        eng = PromQLEngine(spark, buf.to_store())
        out = eng.query_range('cpu_usage{job="api"}',
                              1_700_000_000_000, 1_700_000_060_000, 60_000)
        rows = out.collect()
        insts = {r["labels"]["instance"] for r in rows}
        assert insts == {"i-1", "i-2"}


class TestHttpWrite:
    def test_post_write_then_query_range(self, spark):
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine

        buf = WriteBuffer(spark)
        # engine whose store re-reads the buffer is rebuilt per query in
        # real deployments; here we post first, then serve the snapshot
        body = snappy_compress(encode_write_request(SERIES))
        srv = serve(PromQLEngine(spark, buf.to_store()), write_buffer=buf)
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        try:
            req = urllib.request.Request(
                f"{base}/api/v1/write", data=body, method="POST",
                headers={"Content-Type": "application/x-protobuf",
                         "Content-Encoding": "snappy"})
            with urllib.request.urlopen(req, timeout=60) as r:
                assert r.status == 204
                assert r.headers["X-Prometheus-Remote-Write-Samples"] == "5"
            assert buf.n_samples == 5
        finally:
            srv.shutdown()

    def test_oversized_body_413(self, spark, monkeypatch):
        import filodb_spark.http_server as hs
        from filodb_spark.promql import PromQLEngine
        monkeypatch.setattr(hs, "MAX_WRITE_BODY", 64)
        buf = WriteBuffer(spark)
        srv = hs.serve(PromQLEngine(spark, buf.to_store()),
                       write_buffer=buf)
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        try:
            req = urllib.request.Request(
                f"{base}/api/v1/write", data=b"x" * 65, method="POST")
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=60)
            assert ei.value.code == 413
            assert buf.n_samples == 0   # rejected before decode
        finally:
            srv.shutdown()

    def test_negative_content_length_400(self, spark):
        """Content-Length: -1 must be rejected, not turned into
        read-until-EOF (the unbounded-body hole — ADVICE r4)."""
        import socket
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine
        buf = WriteBuffer(spark)
        srv = serve(PromQLEngine(spark, buf.to_store()), write_buffer=buf)
        host, port = srv.server_address
        try:
            for bad in (b"-1", b"0", b"garbage"):
                s = socket.create_connection((host, port), timeout=60)
                try:
                    s.sendall(b"POST /api/v1/write HTTP/1.1\r\n"
                              b"Host: t\r\nContent-Length: " + bad +
                              b"\r\nConnection: close\r\n\r\n")
                    status = s.recv(65536).decode().splitlines()[0]
                    assert " 400 " in status, (bad, status)
                finally:
                    s.close()
            assert buf.n_samples == 0
        finally:
            srv.shutdown()

    def test_write_disabled_404(self, spark):
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine
        buf = WriteBuffer(spark)
        srv = serve(PromQLEngine(spark, buf.to_store()))   # no buffer
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        try:
            req = urllib.request.Request(
                f"{base}/api/v1/write", data=b"x", method="POST")
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=60)
            assert ei.value.code == 404
        finally:
            srv.shutdown()


class TestFramesToRecords:
    def test_parallel_decode_row_equal_to_driver(self, spark):
        bodies = []
        for shard in range(4):
            series = [({"__name__": "m", "shard": str(shard),
                        "i": str(i)},
                       [(1_700_000_000_000 + 1000 * i, float(shard * 10 + i))
                        for i in range(3)])
                      for i in range(5)]
            bodies.append((snappy_compress(encode_write_request(series)),))
        frames = spark.createDataFrame(bodies, "body binary").repartition(4)
        out = frames_to_records(frames)
        assert out.count() == 4 * 5 * 3
        driver_rows = set()
        buf = WriteBuffer(spark)
        for (b,) in bodies:
            buf.append(b)
        want = {(tuple(sorted(r["labels"].items())), r["ts"], r["value"])
                for r in buf.to_df().collect()}
        got = {(tuple(sorted(r["labels"].items())), r["ts"], r["value"])
               for r in out.collect()}
        assert got == want

    def test_empty_frame(self, spark):
        frames = spark.createDataFrame([], "body binary")
        assert frames_to_records(frames).count() == 0


class TestRecordsToFrames:
    def test_roundtrip_through_wire(self, spark):
        rows = [({"__name__": "m", "i": str(i % 3)},
                 1_700_000_000_000 + i * 1000, float(i) / 7)
                for i in range(50)]
        records = spark.createDataFrame(rows, "labels map<string,string>, "
                                        "ts long, value double")
        from filodb_spark.remote_write import records_to_frames
        back = frames_to_records(records_to_frames(records.repartition(4)))
        want = {(tuple(sorted(r["labels"].items())), r["ts"], r["value"])
                for r in records.collect()}
        got = {(tuple(sorted(r["labels"].items())), r["ts"], r["value"])
               for r in back.collect()}
        assert got == want


class TestBearerAuth:
    def test_token_required_when_configured(self, spark):
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine
        buf = WriteBuffer(spark)
        srv = serve(PromQLEngine(spark, buf.to_store()), write_buffer=buf,
                    bearer_token="s3cret")
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        try:
            # GET without token -> 401
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(f"{base}/api/v1/labels", timeout=60)
            assert ei.value.code == 401
            # POST write without token -> 401
            body = snappy_compress(encode_write_request(SERIES))
            req = urllib.request.Request(f"{base}/api/v1/write", data=body,
                                         method="POST")
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=60)
            assert ei.value.code == 401 and buf.n_samples == 0
            # with token -> accepted
            req = urllib.request.Request(
                f"{base}/api/v1/write", data=body, method="POST",
                headers={"Authorization": "Bearer s3cret"})
            with urllib.request.urlopen(req, timeout=60) as r:
                assert r.status == 204
            assert buf.n_samples == 5
            # wrong token -> 401
            req = urllib.request.Request(
                f"{base}/api/v1/write", data=body, method="POST",
                headers={"Authorization": "Bearer nope"})
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=60)
            assert ei.value.code == 401
        finally:
            srv.shutdown()

    def test_no_token_configured_stays_open(self, spark):
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine
        buf = WriteBuffer(spark)
        srv = serve(PromQLEngine(spark, buf.to_store()))
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        try:
            with urllib.request.urlopen(f"{base}/api/v1/labels",
                                        timeout=60) as r:
                assert r.status == 200
        finally:
            srv.shutdown()


class TestStreamingRemoteWrite:
    def test_landed_frames_stream_to_store_and_promql(self, spark, tmp_path):
        """The scale ingest shape: remote-write bodies land as files
        (the gateway's Kafka/object-store role), a file stream decodes
        them with the SAME frames_to_records plan, and start_ingest
        (watermark + dedupe + append) builds the queryable store —
        streaming mapInPandas end-to-end."""
        from filodb_spark.promql import PromQLEngine
        from filodb_spark.promql.compiler import TsStore
        from filodb_spark.remote_write import frames_to_records
        from filodb_spark.streaming.ingest import start_ingest

        t0 = 1_700_000_000_000
        frames_dir, out, ckpt = (tmp_path / "frames", tmp_path / "out",
                                 tmp_path / "ck")
        bodies = []
        for shard in range(3):
            series = [({"__name__": "rw_stream", "inst": str(shard)},
                       [(t0 + i * 10_000, float(shard * 100 + i))
                        for i in range(20)])]
            bodies.append((snappy_compress(encode_write_request(series)),))
        # duplicate the first frame: ingest dedupe must drop the repeats
        spark.createDataFrame(bodies + bodies[:1], "body binary") \
            .write.parquet(str(frames_dir))

        stream = (spark.readStream.schema("body binary")
                  .parquet(str(frames_dir)))
        q = start_ingest(frames_to_records(stream), str(out), str(ckpt),
                         trigger_once=True)
        q.awaitTermination(120)

        got = spark.read.parquet(str(out))
        assert got.count() == 60          # 3 shards x 20, dups dropped
        eng = PromQLEngine(spark, TsStore(got))
        rows = eng.query_range('sum(rate(rw_stream[1m]))',
                               t0 + 60_000, t0 + 180_000, 60_000).collect()
        assert rows and all(abs(r["value"] - 0.3) < 1e-9 for r in rows)


class TestCodecProperties:
    """Randomized codec validation (deterministic seed): arbitrary
    label sets (unicode, empty values), timestamps across the varint
    width spectrum (1-byte .. 2^62), and adversarial double values must
    survive encode -> snappy -> decode bit-for-bit."""

    def test_random_roundtrips(self):
        import math
        import random
        from filodb_spark.remote_read import snappy_decompress
        rng = random.Random(7)
        specials = [0.0, -0.0, 1e-308, 1e308, float("inf"),
                    float("-inf"), 1.5, -2.75]
        for trial in range(200):
            series = []
            for _ in range(rng.randint(0, 5)):
                labels = {}
                for _ in range(rng.randint(0, 6)):
                    name = "".join(rng.choice("abc_xyz:λμ") for _ in
                                   range(rng.randint(1, 8)))
                    labels[name] = "".join(
                        rng.choice("0123456789 aZ-βγ") for _ in
                        range(rng.randint(0, 10)))
                samples = []
                for _ in range(rng.randint(0, 8)):
                    ts = rng.choice([rng.randint(0, 127),
                                     rng.randint(128, 1 << 21),
                                     rng.randint(1 << 21, 1 << 42),
                                     rng.randint(1 << 42, (1 << 62))])
                    v = rng.choice(specials) if rng.random() < 0.3 \
                        else rng.uniform(-1e12, 1e12)
                    samples.append((ts, v))
                series.append((labels, samples))
            wire = snappy_compress(encode_write_request(series))
            got = decode_write_request(snappy_decompress(wire))
            assert len(got) == len(series), trial
            for (l1, s1), (l2, s2) in zip(series, got):
                assert l2 == {k: str(v) for k, v in l1.items()}
                assert len(s1) == len(s2)
                for (t1, v1), (t2, v2) in zip(s1, s2):
                    assert t1 == t2
                    if math.isnan(v1):
                        assert math.isnan(v2)
                    else:
                        assert v1 == v2 and math.copysign(1, v1) \
                            == math.copysign(1, v2)

    def test_nan_payload_bits_survive(self):
        import math
        from filodb_spark.remote_read import snappy_decompress
        series = [({"m": "nan"}, [(1, float("nan"))])]
        got = decode_write_request(
            snappy_decompress(snappy_compress(encode_write_request(series))))
        assert math.isnan(got[0][1][0][1])


class TestTls:
    def test_https_query_and_write(self, spark, tmp_path):
        import ssl
        import subprocess
        from filodb_spark.http_server import serve
        from filodb_spark.promql import PromQLEngine
        cert, key = str(tmp_path / "c.pem"), str(tmp_path / "k.pem")
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", key, "-out", cert, "-days", "1",
             "-subj", "/CN=localhost"],
            check=True, capture_output=True)
        buf = WriteBuffer(spark)
        srv = serve(PromQLEngine(spark, buf.to_store()), write_buffer=buf,
                    certfile=cert, keyfile=key)
        base = f"https://127.0.0.1:{srv.server_address[1]}"
        ctx = ssl.create_default_context(cafile=cert)
        ctx.check_hostname = False
        try:
            with urllib.request.urlopen(f"{base}/api/v1/labels",
                                        timeout=60, context=ctx) as r:
                assert r.status == 200
            body = snappy_compress(encode_write_request(SERIES))
            req = urllib.request.Request(f"{base}/api/v1/write",
                                         data=body, method="POST")
            with urllib.request.urlopen(req, timeout=60, context=ctx) as r:
                assert r.status == 204
            assert buf.n_samples == 5
        finally:
            srv.shutdown()


class TestVectorizedCodecInternals:
    """Pins the r14 numpy codec: the vectorized sample encoder must be
    byte-identical to the scalar reference, and the vectorized decode
    fast path must either return exactly what the strict parser returns
    or refuse (None) so the caller falls back — never a third outcome."""

    EDGE_SAMPLES = [
        (0, 0.0), (1, -0.0), (-1, 1.5),
        (127, float("nan")), (128, float("inf")), (129, -float("inf")),
        ((1 << 63) - 1, 1e308), (-(1 << 63), -1e-308),
        ((1 << 62), 3.14), (1_700_000_000_000, 42.0),
        # every varint length 1..10 via powers of 2^7
        *[((1 << (7 * k)), float(k)) for k in range(10)],
        *[(-(1 << (7 * k)), float(-k)) for k in range(1, 9)],
    ]

    def test_np_encoder_matches_scalar_reference(self):
        from filodb_spark.remote_write import (_encode_samples_np,
                                               _encode_samples_py)
        assert _encode_samples_np(self.EDGE_SAMPLES) == \
            _encode_samples_py(self.EDGE_SAMPLES)
        # short lists too (below the _NP_MIN dispatch cutoff the scalar
        # path runs, but the vectorized one must still agree)
        for i in range(1, 6):
            sub = self.EDGE_SAMPLES[:i]
            assert _encode_samples_np(sub) == _encode_samples_py(sub)

    def test_roundtrip_through_fast_path(self):
        series = [({"__name__": "m", "inst": "a"}, self.EDGE_SAMPLES),
                  ({}, []), ({"only": "labels"}, [])]
        raw = encode_write_request(series)
        dec = decode_write_request(raw)
        assert encode_write_request(dec) == raw
        assert [l for l, _ in dec] == [l for l, _ in series]
        # protobuf int64: ts is the 64-bit two's-complement reinterpret
        # (2**63 wraps to -2**63 on BOTH the strict and the fast path)
        def to_i64(t):
            t = int(t) & (1 << 64) - 1
            return t - (1 << 64) if t >= 1 << 63 else t
        assert [t for t, _ in dec[0][1]] == \
            [to_i64(t) for t, _ in self.EDGE_SAMPLES]

    def test_fast_path_refuses_non_canonical_and_strict_agrees(self):
        from filodb_spark.remote_read import _len_delim, _field, _uvarint
        from filodb_spark.remote_write import _decode_series_fast
        import struct
        # sample with ts BEFORE value (legal protobuf, non-canonical)
        swapped = _len_delim(2, _field(2, 0) + _uvarint(123)
                             + _field(1, 1) + struct.pack("<d", 7.5))
        label = _len_delim(1, _len_delim(1, b"n") + _len_delim(2, b"v"))
        assert _decode_series_fast(label + swapped) is None
        body = _len_delim(1, label + swapped)
        assert decode_write_request(body) == [({"n": "v"}, [(123, 7.5)])]
        # label AFTER a sample (interleaved): refuse, strict handles
        canon = _len_delim(2, _field(1, 1) + struct.pack("<d", 1.0)
                           + _field(2, 0) + _uvarint(5))
        assert _decode_series_fast(canon + label) is None
        assert decode_write_request(_len_delim(1, canon + label)) == \
            [({"n": "v"}, [(5, 1.0)])]
        # non-minimal (overlong but in-bounds) ts varint: strict parses
        # it; the fast path accepts it too — its lane checks only ask
        # that the varint end exactly at the record end, and the masked
        # 7-bit groups sum to the same value the strict parser reads
        overlong = _len_delim(2, _field(1, 1) + struct.pack("<d", 2.0)
                              + _field(2, 0) + b"\x85\x00")
        got = _decode_series_fast(overlong)
        assert got == ({}, [(5, 2.0)])
        assert decode_write_request(_len_delim(1, overlong)) == \
            [({}, [(5, 2.0)])]

    def test_fast_path_equals_strict_on_canonical(self):
        from filodb_spark.remote_write import _decode_series_fast
        from filodb_spark.remote_read import _iter_fields
        import struct
        series = [({"a": "1", "b": "2"}, self.EDGE_SAMPLES)]
        raw = encode_write_request(series)
        (num, wire, body), = list(_iter_fields(raw))
        labels, samples = _decode_series_fast(body)
        assert labels == {"a": "1", "b": "2"}
        strict = decode_write_request(raw)[0][1]
        assert len(samples) == len(strict)
        for (t1, v1), (t2, v2) in zip(samples, strict):
            assert t1 == t2
            # bit-level compare absorbs NaN (NaN != NaN under ==)
            assert struct.pack("<d", v1) == struct.pack("<d", v2)
