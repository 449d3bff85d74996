"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed by Arrow-batched pandas UDFs over mapInPandas.

Two decode tiers:

* ``real_decode`` — a REAL pure-python/numpy decoder for the
  uncompressed public formats PPM/PGM (netpbm P6/P5) and 24-bit
  BI_RGB BMP: header parse + pixel array, no image libraries. The
  ``mm_decode_real`` gate entry synthesizes deterministic PPM payloads
  (pixel value = closed-form function of doc_id and position), decodes
  them through the real parser in a second mapInPandas hop, and the
  DuckDB oracle recomputes width/height/per-channel pixel sums from
  the same closed form — so the parser's output is value-checked, not
  just shape-checked.
* ``_fake_decode`` — the stand-in for COMPRESSED codecs (JPEG/ffmpeg
  etc., libraries absent here), kept for the plumbing-only gate entry;
  a real deployment swaps PIL/libvips into the same UDF.

The stub payload is the utf-8 encoding of the document text, which
keeps its metadata oracle SQL-expressible.
"""

from __future__ import annotations

import struct
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width long, height long, channels long, "
    "checksum long"
)


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (synthetic: utf-8 of text)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: derives a fake
    (width, height, channels) from the byte length. A real deployment
    replaces this with PIL/libvips inside the same UDF."""
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1, 3


def _parse_netpbm(payload: bytes) -> np.ndarray:
    """PPM (P6) / PGM (P5) binary parser -> uint8 pixels [h, w, c].

    Header grammar per the netpbm spec: magic, width, height, maxval as
    ascii tokens separated by whitespace, '#' comments running to end
    of line, exactly ONE whitespace byte after maxval, then the raw
    sample array (row-major, RGB interleaved for P6)."""
    pos, tokens = 0, []
    n = len(payload)
    while len(tokens) < 4:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < n and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        tokens.append(payload[start:pos])
    pos += 1  # the single whitespace byte terminating the header
    magic = tokens[0]
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"unsupported netpbm magic {magic!r}")
    if maxval > 255:
        raise ValueError("2-byte netpbm samples not supported")
    c = 3 if magic == b"P6" else 1
    return np.frombuffer(
        payload, dtype=np.uint8, count=w * h * c, offset=pos
    ).reshape(h, w, c)


def _parse_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB BMP parser -> uint8 pixels [h, w, 3]
    in RGB order. Layout per the public BITMAPFILEHEADER/
    BITMAPINFOHEADER spec: pixel-data offset at byte 10; width/height
    (int32, positive height = bottom-up) at 18; bpp at 28; compression
    at 30; rows padded to 4-byte boundaries; samples stored BGR."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported "
                         f"(bpp={bpp}, compression={comp})")
    bottom_up, h = h_signed > 0, abs(h_signed)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def _parse_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Uncompressed 16-bit PCM WAV parser -> (sample_rate, n_channels,
    samples [n, ch] int16). Chunk-walks the RIFF container per the
    public spec ('fmt ' then 'data', unknown chunks skipped via their
    declared size, word-aligned)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    rate = channels = bits = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > n:
            # loud like the other parsers — a silent short slice would
            # decode truncated sample counts as if they were the data
            raise ValueError(
                f"truncated WAV chunk {cid!r}: declares {size} bytes, "
                f"{n - pos - 8} remain"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short ({size} bytes)")
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt != 1 or bits != 16:
                raise ValueError(
                    f"only 16-bit PCM supported (fmt={fmt}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return rate, channels, samples.reshape(-1, channels)


def real_decode(payload: bytes):
    """Decode an UNCOMPRESSED media payload — pure python/numpy, no
    media libraries, dispatched on magic bytes:

    * netpbm P6/P5 and 24-bit BI_RGB BMP -> uint8 pixels [h, w, c]
    * PNG (8-bit gray/RGB/RGBA, non-interlaced; zlib inflate + the
      five scanline filters) -> uint8 pixels [h, w, c]
    * RIFF/WAVE 16-bit PCM -> (sample_rate, n_channels, int16 [n, ch])

    Remaining compressed codecs (JPEG/MP3/video) still require
    external libraries; swap PIL/ffmpeg into the same mapInPandas UDF
    in a real deployment."""
    magic = bytes(payload[:4])
    if magic[:2] in (b"P6", b"P5"):
        return _parse_netpbm(bytes(payload))
    if magic[:2] == b"BM":
        return _parse_bmp(bytes(payload))
    if magic == b"RIFF":
        return _parse_wav(bytes(payload))
    if magic == b"YUV4":
        return _parse_y4m(bytes(payload))
    if bytes(payload[:8]) == _PNG_SIG:
        return _parse_png(bytes(payload))
    raise ValueError(
        f"unsupported media magic {magic!r}: real_decode handles "
        "PPM/PGM/BMP/PNG/WAV/Y4M; other compressed codecs need "
        "PIL/ffmpeg"
    )


def decode_stage(docs_with_payload: DataFrame) -> DataFrame:
    """mapInPandas decode/feature-extract stage (Arrow batches)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "channels": [m[2] for m in meta],
                    "checksum": [
                        zlib.crc32(p) for p in pdf["payload"]
                    ],
                }
            )

    return docs_with_payload.mapInPandas(fn, DECODE_SCHEMA)


def q_mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return decode_stage(with_payload(docs)).drop("checksum")


# checksum (crc32) is not DuckDB-expressible; the oracle covers the
# rest of the decode metadata exactly.
SQL_MM_DECODE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       (octet_length(encode(text)) % 640) + 1 AS width,
       (octet_length(encode(text)) % 480) + 1 AS height,
       CAST(3 AS BIGINT) AS channels
FROM documents"""


# ------------------------------------------------- real decode (PPM) gate

REAL_DECODE_SCHEMA = (
    "doc_id long, width long, height long, channels long, "
    "sum_r long, sum_g long, sum_b long"
)


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    return (doc_id % 8) + 2, ((doc_id // 8) % 6) + 2  # (w, h)


def encode_ppm_bytes(doc_id: int) -> bytes:
    """Deterministic synthetic P6 payload: pixel (r, c, ch) =
    (doc_id*31 + r*7 + c*3 + ch) % 256 — a closed form the DuckDB
    oracle can recompute, so decoding it value-checks the parser."""
    w, h = _ppm_dims(doc_id)
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(3)[None, None, :]
    px = ((doc_id * 31 + r * 7 + c * 3 + ch) % 256).astype(np.uint8)
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


def _synth_payload(
    docs: DataFrame, encode: Callable[[int], bytes]
) -> DataFrame:
    """First Python hop: synthesize the binary payload column with
    ``encode(doc_id)`` (stands in for reading real image, audio or
    video bytes from a source table)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode(int(i)) for i in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(fn, "doc_id long, payload binary")


def decode_real_stage(docs_with_payload: DataFrame) -> DataFrame:
    """Second Python hop: the REAL parser over the binary column —
    dims + per-channel pixel sums (the feature-extract step)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = real_decode(payload)
                s = px.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (int(doc_id), px.shape[1], px.shape[0], px.shape[2],
                     int(s[0]), int(s[1 % len(s)]), int(s[2 % len(s)]))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "channels",
                         "sum_r", "sum_g", "sum_b"],
            )

    return docs_with_payload.mapInPandas(fn, REAL_DECODE_SCHEMA)


def q_mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_real_stage(_synth_payload(docs, encode_ppm_bytes))


def _sql_channel_sum(ch: int) -> str:
    return (
        "list_aggregate(list_transform(range(0, w * h), i -> "
        f"(doc_id * 31 + (i // w) * 7 + (i % w) * 3 + {ch}) % 256), 'sum')"
    )


SQL_MM_DECODE_REAL = f"""
WITH dims AS (
  SELECT doc_id, (doc_id % 8) + 2 AS w, ((doc_id // 8) % 6) + 2 AS h
  FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST({_sql_channel_sum(0)} AS BIGINT) AS sum_r,
       CAST({_sql_channel_sum(1)} AS BIGINT) AS sum_g,
       CAST({_sql_channel_sum(2)} AS BIGINT) AS sum_b
FROM dims"""


def _parse_y4m(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Uncompressed YUV4MPEG2 (.y4m) parser, C444/Cmono -> (width,
    height, frames [n, h, w] luma uint8). The public plain-header
    container: 'YUV4MPEG2 W<w> H<h> ...\\n' then per-frame 'FRAME...\\n'
    markers followed by raw planes; only the luma plane is retained
    (the feature-extract convention for frame stats)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    hdr_end = payload.index(b"\n")
    w = h = None
    colorspace = b"C420"
    for tok in payload[10:hdr_end].split(b" "):
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok
    if w is None or h is None:
        raise ValueError("missing W/H in y4m header")
    if colorspace == b"C444":
        frame_bytes = w * h * 3
    elif colorspace == b"Cmono":
        frame_bytes = w * h
    else:
        raise ValueError(f"unsupported y4m colorspace {colorspace!r}")
    frames = []
    pos = hdr_end + 1
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("corrupt y4m: expected FRAME marker")
        pos = payload.index(b"\n", pos) + 1
        luma = np.frombuffer(
            payload, dtype=np.uint8, count=w * h, offset=pos
        ).reshape(h, w)
        frames.append(luma)
        pos += frame_bytes
    return w, h, np.stack(frames) if frames else np.zeros((0, h, w), np.uint8)


def nn_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize [h, w, ...] -> [out_h, out_w, ...]:
    source index = floor(i * in / out) — integer arithmetic only, so
    an oracle can recompute the sampled positions exactly."""
    h, w = px.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return px[rows][:, cols]


# -------------------------------------------------- real decode (WAV) gate

WAV_RATE = 8000
WAV_DECODE_SCHEMA = (
    "doc_id long, sample_rate long, n_channels long, n_samples long, "
    "sum_ch0 long, sum_all long"
)


def _wav_dims(doc_id: int) -> tuple[int, int]:
    return (doc_id % 50) + 10, (doc_id % 2) + 1  # (n_samples, channels)


def encode_wav_bytes(doc_id: int) -> bytes:
    """Deterministic synthetic 16-bit PCM WAV: sample (i, ch) =
    ((doc_id*13 + i*7 + ch*3) % 4096) - 2048 — a closed form the
    DuckDB oracle recomputes, so decoding value-checks the parser.
    A junk chunk precedes 'data' to exercise the chunk walker."""
    n, ch = _wav_dims(doc_id)
    i = np.arange(n)[:, None]
    c = np.arange(ch)[None, :]
    samples = (((doc_id * 13 + i * 7 + c * 3) % 4096) - 2048).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, WAV_RATE, WAV_RATE * ch * 2, ch * 2, 16
    )
    junk = b"jnk " + struct.pack("<I", 3) + b"xyz\x00"  # odd size + pad
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += junk + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_stage(docs_with_payload: DataFrame) -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, ch, samples = real_decode(payload)
                s = samples.astype(np.int64)
                rows.append(
                    (int(doc_id), rate, ch, samples.shape[0],
                     int(s[:, 0].sum()), int(s.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_channels",
                         "n_samples", "sum_ch0", "sum_all"],
            )

    return docs_with_payload.mapInPandas(fn, WAV_DECODE_SCHEMA)


def q_mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_wav_stage(_synth_payload(docs, encode_wav_bytes))


def _sql_wav_sum(ch_expr: str) -> str:
    return (
        "list_aggregate(list_transform(range(0, n), i -> "
        f"(doc_id * 13 + i * 7 + ({ch_expr}) * 3) % 4096 - 2048), 'sum')"
    )


SQL_MM_DECODE_WAV = f"""
WITH dims AS (
  SELECT doc_id, (doc_id % 50) + 10 AS n, (doc_id % 2) + 1 AS ch
  FROM documents),
per AS (
  SELECT doc_id, n, ch,
         CAST({_sql_wav_sum('0')} AS BIGINT) AS s0,
         CAST(CASE WHEN ch = 2 THEN {_sql_wav_sum('1')}
                   ELSE 0 END AS BIGINT) AS s1
  FROM dims)
SELECT doc_id, CAST({WAV_RATE} AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_samples,
       s0 AS sum_ch0, s0 + s1 AS sum_all
FROM per"""


# ------------------------------------- video frame-sampling (Y4M) gate

FRAME_STRIDE = 2  # keep every 2nd frame


def _y4m_dims(doc_id: int) -> tuple[int, int, int]:
    return (doc_id % 5) + 2, (doc_id % 4) + 2, (doc_id % 6) + 2  # (w, h, f)


def encode_y4m_bytes(doc_id: int) -> bytes:
    """Deterministic synthetic mono Y4M clip: luma (f, r, c) =
    (doc_id*11 + f*17 + r*5 + c*2) % 256 — closed-form for the oracle."""
    w, h, n_frames = _y4m_dims(doc_id)
    f = np.arange(n_frames)[:, None, None]
    r = np.arange(h)[None, :, None]
    c = np.arange(w)[None, None, :]
    luma = ((doc_id * 11 + f * 17 + r * 5 + c * 2) % 256).astype(np.uint8)
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode()]
    for i in range(n_frames):
        out.append(b"FRAME\n" + luma[i].tobytes())
    return b"".join(out)


def frame_sample_stage(docs_with_payload: DataFrame) -> DataFrame:
    """Video frame-sampling: decode the clip, keep every FRAME_STRIDE-th
    frame, emit one row per kept frame with its luma sum — the
    feature-extract step of a video training-data pipeline. One output
    frame per input Arrow batch (no cross-batch buffering)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = int(doc_id)
                w, h, frames = real_decode(payload)
                for idx in range(0, frames.shape[0], FRAME_STRIDE):
                    rows.append(
                        (d, idx, w, h,
                         int(frames[idx].astype(np.int64).sum()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "luma_sum"],
            )

    return docs_with_payload.mapInPandas(
        fn,
        "doc_id long, frame_idx long, width long, height long, "
        "luma_sum long",
    )


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    # two hops on purpose: the clip payload genuinely crosses Arrow as
    # a binary column between the synth stage and the decode stage
    return frame_sample_stage(_synth_payload(docs, encode_y4m_bytes))


SQL_MM_FRAME_SAMPLE = f"""
WITH dims AS (
  SELECT doc_id, (doc_id % 5) + 2 AS w, (doc_id % 4) + 2 AS h,
         (doc_id % 6) + 2 AS nf
  FROM documents),
kept AS (
  SELECT doc_id, w, h, unnest(range(0, nf, {FRAME_STRIDE})) AS frame_idx
  FROM dims)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(list_aggregate(list_transform(range(0, h * w), i ->
            (doc_id * 11 + frame_idx * 17 + (i // w) * 5 + (i % w) * 2)
              % 256), 'sum') AS BIGINT) AS luma_sum
FROM kept"""


# --------------------------------------------- image resize (NN) gate

RESIZE_H, RESIZE_W = 3, 4


def resize_stage(docs_with_payload: DataFrame) -> DataFrame:
    """Decode -> nearest-neighbor resize to a fixed thumbnail -> channel
    sums: the resize step of an image training-data pipeline. The NN
    index map is floor(i*in/out) integer arithmetic, so the oracle
    recomputes the sampled source pixels exactly."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = real_decode(payload)
                small = nn_resize(px, RESIZE_H, RESIZE_W).astype(np.int64)
                s = small.sum(axis=(0, 1))
                rows.append((int(doc_id), int(s[0]), int(s[1]), int(s[2])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "sum_r", "sum_g", "sum_b"]
            )

    return docs_with_payload.mapInPandas(
        fn, "doc_id long, sum_r long, sum_g long, sum_b long"
    )


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return resize_stage(_synth_payload(docs, encode_ppm_bytes))


def _sql_resize_sum(ch: int) -> str:
    src_r = f"(((i // {RESIZE_W}) * h) // {RESIZE_H})"
    src_c = f"(((i % {RESIZE_W}) * w) // {RESIZE_W})"
    return (
        f"list_aggregate(list_transform(range(0, {RESIZE_H * RESIZE_W}), "
        f"i -> (doc_id * 31 + {src_r} * 7 + {src_c} * 3 + {ch}) % 256), "
        "'sum')"
    )


SQL_MM_RESIZE = f"""
WITH dims AS (
  SELECT doc_id, (doc_id % 8) + 2 AS w, ((doc_id // 8) % 6) + 2 AS h
  FROM documents)
SELECT doc_id,
       CAST({_sql_resize_sum(0)} AS BIGINT) AS sum_r,
       CAST({_sql_resize_sum(1)} AS BIGINT) AS sum_g,
       CAST({_sql_resize_sum(2)} AS BIGINT) AS sum_b
FROM dims"""


# ------------------------------------------------- PNG decode gate
# The first COMPRESSED format in the family: PNG is stdlib-feasible
# (zlib inflate + the five scanline filters), and unlike netpbm/BMP it
# is a format a Common-Crawl-style corpus actually contains. 8-bit
# gray / RGB / RGBA, non-interlaced; Adam7, palette, and 16-bit depth
# raise loudly (same contract as the other parsers: never guess).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels IN THE SCANLINE: palette (3) carries 1 index byte/pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}  # gray, RGB, palette, RGBA


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One framed chunk: length + type + data + CRC32(type||data)."""
    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _png_chunks(payload: bytes):
    """Yield (type, data) with CRC verification; stops at IEND."""
    pos = 8
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        ctype = payload[pos + 4:pos + 8]
        end = pos + 8 + ln
        if end + 4 > len(payload):
            raise ValueError("png: truncated chunk")
        data = payload[pos + 8:end]
        crc = int.from_bytes(payload[end:end + 4], "big")
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: bad CRC in {ctype!r} chunk")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos = end + 4
    raise ValueError("png: missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4) — exact integer form."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _parse_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 pixels [h, w, channels]. Chunk CRCs verified, IDAT
    concatenated + inflated, scanlines unfiltered row-by-row (None/Up
    vectorized; Sub/Average/Paeth carry an intra-row byte dependency,
    walked sequentially per the spec). Palette images (color type 3)
    resolve through PLTE — plus tRNS to RGBA when present, so
    transparency is never silently dropped."""
    if bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("png: bad signature")
    chunks = _png_chunks(payload)
    ctype, ihdr = next(chunks)
    if ctype != b"IHDR" or len(ihdr) != 13:
        raise ValueError("png: first chunk must be a 13-byte IHDR")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, comp, filt, interlace = ihdr[8:13]
    if bit_depth != 8:
        raise ValueError(f"png: only 8-bit depth supported, got {bit_depth}")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"png: color type {color_type} unsupported "
            "(8-bit gray/RGB/palette/RGBA only)"
        )
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace != 0:
        raise ValueError("png: Adam7 interlace not supported")
    idat_parts: list[bytes] = []
    plte = trns = None
    for t, d in chunks:
        if t == b"IDAT":
            idat_parts.append(d)
        elif t == b"PLTE":
            if len(d) % 3 or not d:
                raise ValueError("png: PLTE length not a multiple of 3")
            plte = np.frombuffer(d, np.uint8).reshape(-1, 3)
        elif t == b"tRNS":
            trns = np.frombuffer(d, np.uint8)
        # other ancillary chunks (tEXt, pHYs, gAMA, ...) are skipped
    idat = b"".join(idat_parts)
    if not idat:
        raise ValueError("png: no IDAT data")
    if color_type == 3 and plte is None:
        raise ValueError("png: palette image without a PLTE chunk")
    nch = _PNG_CHANNELS[color_type]
    stride = w * nch
    expected = h * (stride + 1)
    try:
        # BOUNDED inflate: cap at expected+1 bytes so a decompression
        # bomb (tiny IDAT inflating to gigabytes) costs nothing — and
        # typed failure: callers catch ValueError for ALL corrupt
        # payloads, a zlib.error escaping would break that contract
        d = zlib.decompressobj()
        raw = d.decompress(idat, expected + 1)
    except zlib.error as exc:
        raise ValueError(f"png: corrupt IDAT stream ({exc})") from exc
    if len(raw) != expected or not d.eof:
        raise ValueError(
            f"png: inflated size {len(raw)}{'+' if not d.eof else ''} "
            f"!= {expected}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    pos = 0
    for r in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int64)
        pos += stride
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) % 256
        elif ft in (1, 3, 4):  # Sub / Average / Paeth
            cur = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                b = prev[i]
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(
                        int(a), int(b),
                        int(prev[i - nch]) if i >= nch else 0,
                    )
                cur[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"png: unknown filter type {ft}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, nch)
    if color_type != 3:
        return px
    idx = px[:, :, 0]
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError(
            f"png: palette index {int(idx.max())} out of range "
            f"(PLTE has {len(plte)} entries)"
        )
    rgb = plte[idx]  # [h, w, 3]
    if trns is None:
        return rgb
    # tRNS alpha per palette entry; entries beyond its length are 255
    alpha_lut = np.full(len(plte), 255, dtype=np.uint8)
    alpha_lut[: len(trns)] = trns[: len(plte)]
    return np.dstack([rgb, alpha_lut[idx]])


def _png_dims(doc_id: int) -> tuple[int, int]:
    # distinct from _ppm_dims so a cache/dispatch mixup between the
    # two real-decode gates cannot silently pass
    return (doc_id % 9) + 2, ((doc_id // 9) % 7) + 2  # (w, h)


def encode_png_bytes(doc_id: int) -> bytes:
    """Deterministic synthetic RGB PNG: pixel (r, c, ch) = (doc_id*31 +
    r*7 + c*3 + ch) % 256 (the oracle's closed form), filter type
    row % 5 — every row exercises a different filter, so decoding the
    corpus covers None/Sub/Up/Average/Paeth against real zlib streams."""
    w, h = _png_dims(doc_id)
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(3)[None, None, :]
    px = ((doc_id * 31 + r * 7 + c * 3 + ch) % 256).astype(np.int64)
    filtered = bytearray()
    prev = np.zeros(w * 3, dtype=np.int64)
    for row in range(h):
        line = px[row].reshape(-1)
        ft = row % 5
        filtered.append(ft)
        if ft == 0:
            enc = line
        elif ft == 2:
            enc = (line - prev) % 256
        else:
            enc = np.zeros_like(line)
            for i in range(len(line)):
                a = int(line[i - 3]) if i >= 3 else 0
                b = int(prev[i])
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(
                        a, b, int(prev[i - 3]) if i >= 3 else 0
                    )
                enc[i] = (int(line[i]) - pred) % 256
        filtered.extend(bytes(enc.astype(np.uint8)))
        prev = line
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # 8-bit, RGB, deflate, adaptive, none
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + _png_chunk(b"IEND", b"")
    )


def q_mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPM gate shape over REAL compressed payloads: synthesize a
    PNG per document, decode through the dispatcher (signature ->
    chunk walk -> inflate -> unfilter), emit dims + channel sums the
    DuckDB oracle recomputes from the closed form."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_real_stage(_synth_payload(docs, encode_png_bytes))


SQL_MM_DECODE_PNG = f"""
WITH dims AS (
  SELECT doc_id, (doc_id % 9) + 2 AS w, ((doc_id // 9) % 7) + 2 AS h
  FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CAST({_sql_channel_sum(0)} AS BIGINT) AS sum_r,
       CAST({_sql_channel_sum(1)} AS BIGINT) AS sum_g,
       CAST({_sql_channel_sum(2)} AS BIGINT) AS sum_b
FROM dims"""


QUERIES = {
    "mm_decode_stub": q_mm_decode_stub,
    "mm_decode_real": q_mm_decode_real,
    "mm_decode_png": q_mm_decode_png,
    "mm_decode_wav": q_mm_decode_wav,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_resize": q_mm_resize,
}
ORACLES = {
    "mm_decode_stub": SQL_MM_DECODE,
    "mm_decode_real": SQL_MM_DECODE_REAL,
    "mm_decode_png": SQL_MM_DECODE_PNG,
    "mm_decode_wav": SQL_MM_DECODE_WAV,
    "mm_frame_sample": SQL_MM_FRAME_SAMPLE,
    "mm_resize": SQL_MM_RESIZE,
}
