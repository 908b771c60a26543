"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Real pure-python codecs cover all three modalities with no external
libraries: 24-bit BMP images, 16-bit PCM WAV audio, and YUV4MPEG2 (.y4m)
raw video — encode, decode, and byte-exact frame seeks. Y4M is the
raw-video interchange format of the ffmpeg/x264 toolchain: a textual
header plus fixed-size raw 4:2:0 frames, so a sampler seeks the j-th
frame without decoding the rest (unsampled frames are never touched).
Compressed formats (JPEG/MP3/H.264) would plug into the same dispatch
points via PIL/librosa/pyav.

Scale design: binary payloads ride in their own column so column pruning
drops them for metadata-only queries (verify: ReadSchema excludes the blob
column). Feature extraction runs in ``mapInPandas`` with
``spark.sql.execution.arrow.maxRecordsPerBatch`` sized so a batch of blobs
fits executor memory (e.g. 256 images × 4 MB ≈ 1 GB → set 64-128).
"""

from __future__ import annotations

import math as _math
import struct as _struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def encode_bmp(width: int, height: int, seed: int) -> bytes:
    """Encode a real 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up
    rows, 4-byte row padding). Pixels are a deterministic function of
    (seed, x, y), so tests can plant known geometry/content."""
    row_raw = width * 3
    pad = (-row_raw) % 4
    img_size = (row_raw + pad) * height
    header = _struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54
    ) + _struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(width):
            v = (seed * 31 + y * 7 + x * 3) % 256
            row += bytes(((v * 2) % 256, (v * 5) % 256, v))  # B, G, R
        row += b"\x00" * pad
        rows.append(bytes(row))
    return header + b"".join(rows)


def decode_bmp(payload: bytes) -> tuple[int, int, float]:
    """Decode a 24-bit BMP: (width, height, mean luminance in [0, 1]).
    Raises ValueError on anything that is not an uncompressed 24-bit BMP —
    a real decoder's failure mode, surfaced, not swallowed."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = _struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = _struct.unpack_from("<Iii", payload, 14)
    planes, bpp = _struct.unpack_from("<HH", payload, 26)
    compression = _struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    row_raw = width * 3
    stride = row_raw + ((-row_raw) % 4)
    total = 0
    for y in range(height):
        start = offset + y * stride
        row = payload[start : start + row_raw]
        if len(row) < row_raw:
            raise ValueError("truncated BMP pixel array")
        total += sum(row)
    mean = total / (width * height * 3 * 255.0) if width and height else 0.0
    del top_down  # orientation does not affect the mean
    return width, height, round(mean, 6)


def encode_wav(sample_rate: int, n_samples: int, seed: int) -> bytes:
    """Encode a real mono 16-bit PCM WAV via the stdlib ``wave`` module.
    Samples are a deterministic sine of seed-derived frequency."""
    import io
    import wave

    freq = 100.0 + (seed % 50) * 10.0
    frames = b"".join(
        _struct.pack(
            "<h", int(20000 * _math.sin(2 * _math.pi * freq * i / sample_rate))
        )
        for i in range(n_samples)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(frames)
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, float]:
    """Decode a WAV: (sample_rate, n_samples, rms amplitude in [0, 1]).
    Mono 16-bit PCM — raises on other layouts."""
    import io
    import wave

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError(
                f"unsupported WAV layout: ch={w.getnchannels()} width={w.getsampwidth()}"
            )
        sr = w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
    if n:
        samples = _struct.unpack(f"<{n}h", raw)
        rms = _math.sqrt(sum(s * s for s in samples) / n) / 32768.0
    else:
        rms = 0.0
    return sr, n, round(rms, 6)


def encode_y4m(
    width: int,
    height: int,
    n_frames: int,
    fps_num: int = 30,
    fps_den: int = 1,
    seed: int = 0,
) -> bytes:
    """Encode a real YUV4MPEG2 (.y4m) video: ASCII stream header, then
    ``FRAME\\n`` + raw planar 4:2:0 data per frame (Y w×h, U and V each
    w/2×h/2). Luma is a deterministic function of (seed, frame, x, y) so
    tests can plant known geometry and content. Requires even dimensions
    (4:2:0 chroma subsampling)."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 requires even width and height")
    header = f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} Ip A1:1 C420jpeg\n"
    chroma = (width // 2) * (height // 2)
    frames = []
    for f in range(n_frames):
        y_plane = bytes(
            (seed * 13 + f * 31 + y * 7 + x * 3) % 256
            for y in range(height)
            for x in range(width)
        )
        frames.append(b"FRAME\n" + y_plane + b"\x80" * (2 * chroma))
    return header.encode("ascii") + b"".join(frames)


def _parse_y4m_header(payload: bytes) -> tuple[int, int, int, int, int]:
    """Parse a Y4M stream header → (width, height, fps_num, fps_den,
    header_end_offset). Raises ValueError on anything not Y4M/C420."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated Y4M stream header")
    width = height = fps_num = fps_den = None
    for tok in payload[9:nl].split():
        if tok[:1] == b"W":
            width = int(tok[1:])
        elif tok[:1] == b"H":
            height = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps_num, fps_den = int(num), int(den)
        elif tok[:1] == b"C" and not tok[1:].startswith(b"420"):
            raise ValueError(f"unsupported Y4M chroma: {tok!r}")
    if width is None or height is None:
        raise ValueError("Y4M header missing W/H")
    return width, height, fps_num or 30, fps_den or 1, nl + 1


def _y4m_frame_offsets(payload: bytes) -> tuple[int, int, float, int, list[int]]:
    """One linear scan over FRAME markers → (width, height, fps,
    frame_data_size, [data offset of each frame]). Offsets point at the
    raw planar data (past the FRAME parameter line), so a sampler can
    slice any frame without touching the others."""
    width, height, fps_num, fps_den, pos = _parse_y4m_header(payload)
    frame_size = width * height * 3 // 2
    offsets: list[int] = []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        nl = payload.find(b"\n", pos)
        if nl < 0 or nl + 1 + frame_size > len(payload):
            raise ValueError("truncated Y4M frame")
        offsets.append(nl + 1)
        pos = nl + 1 + frame_size
    return width, height, fps_num / fps_den, frame_size, offsets


def decode_y4m(payload: bytes) -> tuple[int, int, int, float, float]:
    """Decode a Y4M video: (width, height, n_frames, fps, mean luma in
    [0, 1]) — the mean is over every frame's full Y plane, parsed from the
    actual bytes."""
    payload = bytes(payload)
    width, height, fps, frame_size, offsets = _y4m_frame_offsets(payload)
    n_luma = width * height
    total = 0
    for off in offsets:
        total += sum(payload[off : off + n_luma])
    mean = total / (len(offsets) * n_luma * 255.0) if offsets else 0.0
    return width, height, len(offsets), round(fps, 4), round(mean, 6)


VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_idx int, n_src_frames int, width int, height int, "
    "payload binary, n_bytes long"
)


def sample_video_frames(df: DataFrame, k: int = 3) -> DataFrame:
    """REAL video frame sampling: parse each Y4M payload's frame index in
    one scan, pick ``k`` evenly-spaced source frames (``j * n // k``), and
    slice exactly those frames' planar data — ``frame_idx`` is the true
    source frame number and ``payload`` the actual YUV bytes. Runs inside
    ``mapInPandas`` (narrow, no shuffle); only the sampled frames are ever
    materialized into Arrow."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                width, height, _fps, frame_size, offsets = _y4m_frame_offsets(b)
                n = len(offsets)
                if n == 0:
                    continue
                for idx in sorted({j * n // k for j in range(min(k, n))}):
                    frame = b[offsets[idx] : offsets[idx] + frame_size]
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": idx,
                            "n_src_frames": n,
                            "width": width,
                            "height": height,
                            "payload": frame,
                            "n_bytes": len(frame),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "n_src_frames", "width",
                    "height", "payload", "n_bytes",
                ],
            )

    return df.mapInPandas(fn, VIDEO_FRAME_SCHEMA)


def synthesize_real_media(documents: DataFrame) -> DataFrame:
    """A media table with REAL encoded payloads, modality by doc_id % 3:
    0 → BMP image (width = 4 + id % 13, height = 3 + id % 7), 1 → WAV
    audio (rate from a 4-value ladder by id % 4, 64 + id % 64 samples),
    2 → Y4M video (width = 2*(2 + id % 8), height = 2*(1 + id % 5),
    3 + id % 6 frames, fps ladder by id % 4). The planted-geometry
    formulas are the oracle ``q_mm_features`` certifies against.
    Pandas-UDF synthesis (encoding is Python work by nature); payload
    stays in its own prunable binary column."""
    import pandas as _pd

    @F.pandas_udf("binary")
    def _payload(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 3 == 0:
                out.append(encode_bmp(4 + i % 13, 3 + i % 7, seed=i))
            elif i % 3 == 1:
                out.append(
                    encode_wav([8000, 16000, 22050, 44100][i % 4], 64 + i % 64, seed=i)
                )
            else:
                out.append(
                    encode_y4m(
                        2 * (2 + i % 8),
                        2 * (1 + i % 5),
                        3 + i % 6,
                        fps_num=[24, 25, 30, 60][i % 4],
                        seed=i,
                    )
                )
        return _pd.Series(out)

    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        _payload("doc_id").alias("payload"),
    )


REAL_FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "mean_lum double, sample_rate int, n_samples long, rms double, "
    "n_frames int, fps double"
)


def decode_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas REAL decode: BMP → (width, height, mean_lum), WAV →
    (sample_rate, n_samples, rms), Y4M → (width, height, n_frames, fps,
    mean_lum over all Y planes); columns of the other modalities are null.
    Decode failures raise (task error), they are not nulled away: silent
    nulls at 100 TB hide corrupt shards."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, knd, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                rec = {
                    "media_id": mid,
                    "kind": knd,
                    "n_bytes": len(b),
                    "width": None,
                    "height": None,
                    "mean_lum": None,
                    "sample_rate": None,
                    "n_samples": None,
                    "rms": None,
                    "n_frames": None,
                    "fps": None,
                }
                if knd == "image":
                    rec["width"], rec["height"], rec["mean_lum"] = decode_bmp(b)
                elif knd == "audio":
                    rec["sample_rate"], rec["n_samples"], rec["rms"] = decode_wav(b)
                elif knd == "video":
                    (
                        rec["width"],
                        rec["height"],
                        rec["n_frames"],
                        rec["fps"],
                        rec["mean_lum"],
                    ) = decode_y4m(b)
                else:
                    raise NotImplementedError(f"no decoder for kind={knd!r}")
                rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "n_bytes", "width", "height",
                    "mean_lum", "sample_rate", "n_samples", "rms",
                    "n_frames", "fps",
                ],
            )

    return df.mapInPandas(fn, REAL_FEATURE_SCHEMA)
