"""Multimodal columns: opaque binary payloads + typed metadata.

Media spans in the document model carry references (``media_ref``); this
module supplies the pipeline plumbing for the payloads themselves —
image/audio/video as ``binary`` columns with a typed metadata struct,
processed in Arrow batches via ``mapInPandas``.

Decode kernels come in two tiers:

- **REAL, stdlib-only** (``decode_wav_meta``/``decode_bmp_meta``/
  ``decode_png_meta`` + the ``decode_media`` operator): WAV audio is
  parsed with the stdlib ``wave`` module (channels, sample rate, exact
  duration, RMS level from the PCM frames via numpy), uncompressed BMP
  with ``struct`` (width/height/bpp plus the mean pixel level from the
  actual pixel rows), and PNG with ``struct`` + ``zlib`` (IHDR header,
  full IDAT inflate, per-row Sub/Up/Average/Paeth filter reconstruction,
  mean level from the decoded samples). These decode genuine bytes
  end-to-end with no external library; ``encode_png`` is the matching
  stdlib writer for test payload synthesis.
- **STUBS by design** for codecs needing external libraries
  (JPEG/H.264/Opus/FLAC): ``decode_image`` raises
  ``NotImplementedError`` (strict mode) or produces a deterministic
  fake derived from the payload bytes (test mode). Swapping in
  PIL/torchvision later changes only the kernel body — the Arrow
  batching, dispatch-by-magic-bytes, schema and partitioning are the
  same paths the real WAV/BMP/PNG kernels already exercise.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_ref string, media_type string, feature array<float>, n_bytes long, sha1 string"
)


def _fake_feature(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in for a learned embedding: bytes -> R^dim.

    Derived from the sha1 of the payload so tests are stable; replaces a
    real encoder (CLIP/ResNet/wav2vec) behind the same signature.
    """
    digest = hashlib.sha1(payload or b"").digest()
    return [b / 255.0 - 0.5 for b in digest[:dim]]


def decode_image(payload: bytes, strict: bool = True):
    """Decode a COMPRESSED image payload. STUB: container ships no
    imaging libs (uncompressed BMP decodes for real — decode_bmp_meta)."""
    if strict:
        raise NotImplementedError(
            "compressed-image decoding requires an imaging library (e.g. "
            "PIL) not present in this environment; BMP payloads decode "
            "via decode_bmp_meta, or use strict=False for the "
            "deterministic fake used by tests"
        )
    return _fake_feature(payload)


def decode_wav_meta(payload: bytes) -> dict:
    """REAL audio decode, stdlib-only: parse a RIFF/WAVE payload.

    Header fields come from the ``wave`` module; the RMS level is
    computed from the actual PCM frames (numpy over the 8/16-bit
    samples), i.e. this kernel genuinely reads every byte of audio —
    the same shape a wav2vec-style feature extractor would batch.
    """
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        sw = w.getsampwidth()
        fr = w.getframerate()
        nf = w.getnframes()
        raw = w.readframes(nf)
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:  # 24/32-bit: unsupported sample width -> no level
        x = np.zeros(0)
    return {
        "container": "audio/wav",
        "width": None,
        "height": None,
        "channels": nch,
        "sample_rate": fr,
        "duration_ms": int(round(nf * 1000 / fr)) if fr else 0,
        "level": float(np.sqrt(np.mean(x * x))) if x.size else None,
    }


def decode_bmp_meta(payload: bytes) -> dict:
    """REAL image decode, stdlib-only: parse an uncompressed BMP payload.

    Header via ``struct`` (BITMAPINFOHEADER); for 24-bit uncompressed
    pixels the mean level is computed from the actual padded pixel rows —
    every image byte is read, like a thumbnailer would.
    """
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    level = None
    if bpp == 24 and compression == 0 and w > 0:
        row_bytes = (w * 3 + 3) // 4 * 4
        ah = abs(h)
        px = np.frombuffer(
            payload, dtype=np.uint8, count=row_bytes * ah, offset=data_off
        ).reshape(ah, row_bytes)[:, : w * 3]
        level = float(px.mean() / 255.0)
    return {
        "container": "image/bmp",
        "width": w,
        "height": abs(h),
        "channels": None,
        "sample_rate": None,
        "duration_ms": None,
        "level": level,
    }


def decode_png_meta(payload: bytes) -> dict:
    """REAL image decode, stdlib-only: parse a PNG payload.

    IHDR gives dimensions/bit depth/color type with ``struct``; the IDAT
    stream is zlib (stdlib) — for non-interlaced 8-bit grayscale/RGB/RGBA
    the per-row filters (None/Sub/Up/Average/Paeth, RFC 2083 §6) are
    reconstructed and the mean pixel level computed from the actual
    decoded samples. Every image byte is read, like a thumbnailer would.
    Unsupported shapes (16-bit, palette, interlaced) still return header
    metadata with ``level=None``.
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    idat = b""
    w = h = bitd = ct = interlace = None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bitd, ct, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ct)
    level = None
    if bitd == 8 and interlace == 0 and ct in (0, 2, 6) and idat and w and h:
        raw = zlib.decompress(idat)
        bpp = channels
        stride = w * bpp
        prev = np.zeros(stride, dtype=np.uint8)
        total = 0
        rpos = 0
        for _r in range(h):
            ftype = raw[rpos]
            cur = np.frombuffer(raw, np.uint8, stride, rpos + 1).copy()
            rpos += 1 + stride
            if ftype == 2:  # Up (vectorized; uint8 addition wraps mod 256)
                cur += prev
            elif ftype == 1:  # Sub
                for i in range(bpp, stride):
                    cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
            elif ftype == 3:  # Average
                for i in range(stride):
                    a = int(cur[i - bpp]) if i >= bpp else 0
                    cur[i] = (int(cur[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(stride):
                    a = int(cur[i - bpp]) if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (int(cur[i]) + pred) & 0xFF
            total += int(cur.astype(np.int64).sum())
            prev = cur
        level = total / (h * stride) / 255.0
    return {
        "container": "image/png",
        "width": int(w) if w is not None else None,
        "height": int(h) if h is not None else None,
        "channels": int(channels) if channels is not None else None,
        "sample_rate": None,
        "duration_ms": None,
        "level": level,
    }


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 2,
    filters: list[int] | None = None,
) -> bytes:
    """stdlib PNG writer (8-bit, non-interlaced) for tests and synthesis.

    ``filters`` selects the per-row filter type (default all 0); applying
    Sub/Up/Average/Paeth here and decoding back is the round-trip that
    proves ``decode_png_meta``'s reconstruction is the true inverse.
    """
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    stride = width * channels
    assert len(pixels) == stride * height, "pixel buffer does not match dims"
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        cur = pixels[r * stride : (r + 1) * stride]
        f = filters[r]
        raw.append(f)
        for i in range(stride):
            x = cur[i]
            a = cur[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 0:
                v = x
            elif f == 1:
                v = (x - a) & 0xFF
            elif f == 2:
                v = (x - b) & 0xFF
            elif f == 3:
                v = (x - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (x - pred) & 0xFF
            else:
                raise ValueError(f"unknown filter {f}")
            raw.append(v)
        prev = cur

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


DECODE_SCHEMA = (
    "media_ref string, container string, width int, height int, "
    "duration_ms int, channels int, sample_rate int, level double"
)


def decode_media(media: DataFrame, strict: bool = True) -> DataFrame:
    """Dispatch-by-magic-bytes decode over binary payloads (mapInPandas).

    RIFF/WAVE and BMP payloads decode for REAL (stdlib kernels above);
    other containers raise in strict mode, listing what a production
    image with PIL/av would plug in, or fall back to the deterministic
    fake meta in test mode. One Arrow batch per task — binary columns
    are not splittable, so partition counts bound per-task memory.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                p = bytes(payload or b"")
                if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                    m = decode_wav_meta(p)
                elif p[:2] == b"BM":
                    m = decode_bmp_meta(p)
                elif p[:8] == b"\x89PNG\r\n\x1a\n":
                    m = decode_png_meta(p)
                elif strict:
                    raise NotImplementedError(
                        "only WAV, BMP and PNG decode in this environment; "
                        "other compressed codecs need PIL/av (strict=False "
                        "falls back to deterministic fake metadata)"
                    )
                else:
                    m = {
                        "container": "unknown",
                        "width": None,
                        "height": None,
                        "channels": None,
                        "sample_rate": None,
                        "duration_ms": None,
                        "level": _fake_feature(p, 1)[0] + 0.5,
                    }
                rows.append(
                    (
                        ref,
                        m["container"],
                        m["width"],
                        m["height"],
                        m["duration_ms"],
                        m["channels"],
                        m["sample_rate"],
                        m["level"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "container",
                    "width",
                    "height",
                    "duration_ms",
                    "channels",
                    "sample_rate",
                    "level",
                ],
            )

    return media.mapInPandas(kernel, DECODE_SCHEMA)


def media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Real Spark plumbing: Arrow-batched iterator, bounded memory per batch
    (binary columns are not splittable — partition counts control batch
    size), stable output schema. The kernel is the deterministic fake.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "feature": [_fake_feature(p, dim) for p in payloads],
                    "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                    "sha1": [
                        hashlib.sha1(p or b"").hexdigest() for p in payloads
                    ],
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


META_SCHEMA = (
    "media_ref string, media_type string, n_bytes long, payload_sha256 string, "
    "width int, height int, duration_ms int, codec string"
)


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata extraction over binary payloads (mapInPandas).

    The payload-derived fields (byte count, content digest) are computed
    from the bytes — the real plumbing a decode stage needs; the
    decode-derived fields (width/height/duration/codec) pass through from
    the ``meta`` struct, standing in for the stubbed decoder's output.
    sha256 (not sha1) so the digest is reproducible by SQL engines — the
    driver's ``multimodal_meta`` query oracle-checks this whole path.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            meta = pdf["meta"]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                    "payload_sha256": [
                        hashlib.sha256(p or b"").hexdigest() for p in payloads
                    ],
                    "width": [m["width"] for m in meta],
                    "height": [m["height"] for m in meta],
                    "duration_ms": [m["duration_ms"] for m in meta],
                    "codec": [m["codec"] for m in meta],
                }
            )

    return media.mapInPandas(extract, META_SCHEMA)


def synthesize_media(spark, n: int) -> DataFrame:
    """Deterministic fake media table exercising the binary plumbing."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                payload = hashlib.sha256(f"42-{idx}".encode()).digest() * (1 + idx % 4)
                rows.append(
                    (
                        f"img://{hashlib.sha1(str(idx).encode()).hexdigest()[:16]}",
                        payload,
                        ["image", "audio", "video"][idx % 3],
                        {
                            "width": 64 + idx % 512,
                            "height": 64 + (idx * 7) % 512,
                            "duration_ms": (idx * 33) % 10_000,
                            "codec": ["jpeg", "opus", "h264"][idx % 3],
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_ref", "payload", "media_type", "meta"])

    return spark.range(0, n).mapInPandas(gen, MEDIA_SCHEMA)
