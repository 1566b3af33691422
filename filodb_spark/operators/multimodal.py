"""Multimodal (image/audio/video) column operators.

Design for a 100 TB training-data pipeline:
- media lives in OPAQUE `binary` columns with a typed metadata struct
  (mime/width/height/duration/sample_rate) alongside;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  pandas functions over `mapInPandas` — the only layer where Python is
  the right tool (codec libraries), batched so the JVM<->Python transfer
  is amortized;
- partitioning: media rows are large, so repartition by size budget
  (`target_partition_bytes`) before the Python stage to keep Arrow
  batches bounded.

Codec backends: `decode_backend="fake"` (default) produces a
deterministic md5-derived feature vector so the plumbing (schemas,
batch shapes, partitioning, null handling) is real and testable
end-to-end with no codec libs. `decode_backend="real"` uses pillow for
image decode/resize behind an import guard (`_pillow`) — it works
wherever pillow is installed and raises NotImplementedError where it
is not (as in the build container). Video frame sampling's real
backend would need ffmpeg and remains a documented stub.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def _be_u32(content, offset_1based: int):
    """Big-endian uint32 at a 1-based byte offset of a binary column —
    pure JVM expression (hex slice -> base conversion)."""
    return F.conv(F.hex(F.substring(content, offset_1based, 4)), 16, 10) \
        .cast("long")


def _le_u32(content, offset_1based: int):
    """Little-endian uint32: per-byte extraction, recombined."""
    b = [F.conv(F.hex(F.substring(content, offset_1based + i, 1)), 16, 10)
         .cast("long") for i in range(4)]
    return b[0] + b[1] * 256 + b[2] * 65536 + b[3] * 16777216


_PNG_SIG_HEX = "89504E470D0A1A0A"        # \x89PNG\r\n\x1a\n
_RIFF_HEX = "52494646"                   # "RIFF"
_WAVE_HEX = "57415645"                   # "WAVE"


def with_media_meta(df: DataFrame, content_col: str = "content",
                    mime: str | None = None) -> DataFrame:
    """Attach a typed metadata struct for an opaque binary column,
    parsing real container headers JVM-side (no Python, no codec libs —
    the header layouts are public formats):

    - PNG: width/height are big-endian uint32s in the IHDR chunk
      (bytes 17-24 after the 8-byte signature).
    - WAV (RIFF/WAVE): sample_rate is a little-endian uint32 at byte 25
      of the canonical fmt chunk.

    Unrecognized content gets a NULL-field struct (mime from the `mime`
    hint if given). Real pipelines would extend the dispatch per format."""
    c = F.col(content_col)
    is_png = F.hex(F.substring(c, 1, 8)) == _PNG_SIG_HEX
    is_wav = (F.hex(F.substring(c, 1, 4)) == _RIFF_HEX) & \
             (F.hex(F.substring(c, 9, 4)) == _WAVE_HEX)
    null_i, null_l = F.lit(None).cast("int"), F.lit(None).cast("long")
    return df.withColumn("media_meta", F.struct(
        F.when(is_png, F.lit("image/png"))
         .when(is_wav, F.lit("audio/wav"))
         .otherwise(F.lit(mime).cast("string")).alias("mime"),
        F.when(is_png, _be_u32(c, 17).cast("int")).otherwise(null_i)
         .alias("width"),
        F.when(is_png, _be_u32(c, 21).cast("int")).otherwise(null_i)
         .alias("height"),
        null_l.alias("duration_ms"),
        F.when(is_wav, _le_u32(c, 25).cast("int")).otherwise(null_i)
         .alias("sample_rate"),
    ))


def _pillow():
    """Import guard for the real image backend: pillow is an optional
    dependency (absent in the build container); raise the documented
    NotImplementedError only when it is genuinely unavailable."""
    try:
        from PIL import Image
        return Image
    except ImportError as exc:
        raise NotImplementedError(
            "decode_backend='real' requires pillow; "
            "use decode_backend='fake'") from exc


def _real_features(data: bytes, dim: int = 4) -> list[float]:
    """Pillow-backed decode: [width, height, mean, std] over grayscale
    pixels — a deterministic true-decode feature vector (stand-in for a
    model embedding; the Spark-side contract is the same array<double>)."""
    import io
    img = _pillow().open(io.BytesIO(data)).convert("L")
    px = list(img.getdata())
    n = max(1, len(px))
    mean = sum(px) / n
    var = sum((p - mean) ** 2 for p in px) / n
    return [float(img.size[0]), float(img.size[1]), mean, var ** 0.5][:dim]


def _fake_features(data: bytes, dim: int = 4) -> list[float]:
    """Deterministic stand-in for a decoded-image embedding: consecutive
    4-byte big-endian slices of md5(data), as doubles. Reproducible in
    any engine with md5 — used by the SQL oracle."""
    h = hashlib.md5(data).digest()
    return [float(int.from_bytes(h[4 * i:4 * i + 4], "big"))
            for i in range(dim)]


def image_features(df: DataFrame, id_col: str = "doc_id",
                   content_col: str = "content",
                   decode_backend: str = "fake",
                   batch_hint_rows: int = 256) -> DataFrame:
    """Decode + feature-extract images via Arrow-batched mapInPandas.

    Output: (doc_id, n_bytes, features array<double>).
    """
    if decode_backend not in ("fake", "real"):
        raise ValueError(decode_backend)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_nb, out_feats = [], [], []
            for doc_id, data in zip(pdf[id_col], pdf[content_col]):
                if data is None:
                    continue
                data = bytes(data)
                out_ids.append(doc_id)
                out_nb.append(len(data))
                if decode_backend == "real":
                    out_feats.append(_real_features(data))
                else:
                    out_feats.append(_fake_features(data))
            yield pd.DataFrame({"doc_id": out_ids, "n_bytes": out_nb,
                                "features": out_feats})

    src = df.select(F.col(id_col), F.col(content_col))
    return src.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int,
                  id_col: str = "doc_id", content_col: str = "content",
                  decode_backend: str = "fake") -> DataFrame:
    """Resize stage (stub): real backend would decode->resize->re-encode;
    fake backend passes content through and stamps the new dimensions in
    the metadata struct (the schema contract the next stage relies on)."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("media_meta", MEDIA_META),
    ])

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_backend == "real":
                import io
                Image = _pillow()
                content = []
                for data in pdf[content_col]:
                    img = Image.open(io.BytesIO(bytes(data)))
                    buf = io.BytesIO()
                    img.resize((width, height)).save(buf, format="PNG")
                    content.append(buf.getvalue())
            else:
                content = pdf[content_col]
            metas = [{"mime": "image/png", "width": width, "height": height,
                      "duration_ms": None, "sample_rate": None}
                     for _ in range(len(pdf))]
            yield pd.DataFrame({"doc_id": pdf[id_col],
                                "content": content,
                                "media_meta": metas})

    return df.select(F.col(id_col), F.col(content_col)) \
             .mapInPandas(resize, out_schema)


_Y4M_MAGIC = b"YUV4MPEG2"


def synth_y4m(width: int, height: int, n_frames: int,
              fps_num: int = 10, fps_den: int = 1,
              chroma: str = "420") -> bytes:
    """Deterministic YUV4MPEG2 stream for tests/fixtures: frame f's
    plane byte i is (f * 7 + i * 13) % 256 — closed-form, so an SQL
    oracle can recompute any byte of any frame without the parser."""
    fsz = _y4m_frame_size(width, height, chroma)
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} Ip A1:1 "
        f"C{chroma}\n".encode("ascii"))
    for f in range(n_frames):
        out += b"FRAME\n"
        out += bytes((f * 7 + i * 13) % 256 for i in range(fsz))
    return bytes(out)


def _y4m_frame_size(width: int, height: int, chroma: str) -> int:
    if chroma.startswith("420"):
        return width * height * 3 // 2
    if chroma.startswith("422"):
        return width * height * 2
    if chroma.startswith("444"):
        return width * height * 3
    if chroma == "mono":
        return width * height
    raise ValueError(f"unsupported Y4M chroma scheme C{chroma}")


def parse_y4m(data: bytes) -> dict:
    """Parse a YUV4MPEG2 (Y4M) container — the public uncompressed
    interchange format (mjpegtools spec): a one-line ASCII stream
    header (W/H/F/I/A/C parameters), then per frame an ASCII `FRAME`
    line followed by raw planar YUV of a size fixed by the chroma
    scheme. Pure byte math, no codec library.

    Returns {width, height, fps_num, fps_den, frame_size,
    frames: [(payload_offset, size), ...], duration_ms}."""
    data = bytes(data)
    if not data.startswith(_Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = data.index(b"\n")
    width = height = None
    num, den, chroma = 30, 1, "420"
    for tok in data[len(_Y4M_MAGIC):nl].decode("ascii").split(" "):
        if not tok:
            continue
        k, v = tok[0], tok[1:]
        if k == "W":
            width = int(v)
        elif k == "H":
            height = int(v)
        elif k == "F":
            num, den = (int(x) for x in v.split(":"))
        elif k == "C":
            chroma = v
    if not width or not height or num <= 0 or den <= 0:
        raise ValueError("Y4M header missing W/H or has bad F rate")
    fsz = _y4m_frame_size(width, height, chroma)
    frames = []
    i = nl + 1
    while i < len(data):
        if data[i:i + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {i}")
        j = data.index(b"\n", i)
        if j + 1 + fsz > len(data):
            raise ValueError("truncated Y4M frame payload")
        frames.append((j + 1, fsz))
        i = j + 1 + fsz
    return {"width": width, "height": height, "fps_num": num,
            "fps_den": den, "frame_size": fsz, "frames": frames,
            "duration_ms": len(frames) * 1000 * den // num}


def sample_frames(df: DataFrame, every_ms: int, id_col: str = "doc_id",
                  content_col: str = "content",
                  duration_col: str = "duration_ms",
                  decode_backend: str = "fake",
                  on_error: str = "raise") -> DataFrame:
    """Video frame sampling: emits one row per sampled offset.

    - "fake": frame 'content' derived deterministically from
      (video bytes, offset) without decoding — plumbing-only path.
    - "real": parses YUV4MPEG2 (Y4M) containers with pure byte math
      (parse_y4m) and emits the ACTUAL raw frame payload covering each
      sampled offset; duration comes from the stream itself
      (duration_col is ignored for Y4M). Compressed codecs (mp4/webm)
      would need ffmpeg — that plug-in point raises
      NotImplementedError, same contract as the pillow image guard.

    on_error: 'raise' (default) fails the job on a CORRUPT container —
    right for tests and small batches; 'skip' drops the corrupt doc and
    keeps the batch alive — right for 100 TB pipeline runs where one
    bad video must not abort the stage. A non-Y4M container under
    decode_backend='real' always raises (capability gap, not data
    corruption)."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', "
                         f"got {on_error!r}")
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, offs, frames = [], [], []
            for doc_id, data, dur in zip(pdf[id_col], pdf[content_col],
                                         pdf[duration_col]):
                if data is None:
                    continue
                if decode_backend == "real":
                    raw = bytes(data)
                    if not raw.startswith(_Y4M_MAGIC):
                        raise NotImplementedError(
                            "real frame sampling decodes uncompressed "
                            "Y4M only; compressed codecs need the "
                            "ffmpeg plug-in backend")
                    try:
                        meta = parse_y4m(raw)
                    except ValueError:
                        if on_error == "skip":
                            continue
                        raise
                    n, num, den = (len(meta["frames"]), meta["fps_num"],
                                   meta["fps_den"])
                    for off in range(0, meta["duration_ms"], every_ms):
                        idx = off * num // (1000 * den)
                        if idx >= n:
                            break
                        start, size = meta["frames"][idx]
                        ids.append(doc_id)
                        offs.append(off)
                        frames.append(raw[start:start + size])
                    continue
                if dur is None:
                    continue
                for off in range(0, int(dur), every_ms):
                    ids.append(doc_id)
                    offs.append(off)
                    frames.append(hashlib.md5(
                        bytes(data) + str(off).encode()).digest())
            yield pd.DataFrame({"doc_id": ids, "frame_ms": offs,
                                "frame": frames})

    return df.select(F.col(id_col), F.col(content_col),
                     F.col(duration_col)).mapInPandas(sample, out_schema)
