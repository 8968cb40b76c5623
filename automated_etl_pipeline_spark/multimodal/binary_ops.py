"""Multimodal column operators: image/audio/video as opaque binary +
typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, batch iteration, partition sizing —
is real and tested.  Codec resolution is tiered per payload:

1. PIL / soundfile when importable (try-import, never required);
2. pure-stdlib decoders that work in THIS container: PNG via zlib +
   numpy unfiltering (8-bit non-interlaced gray/RGB/RGBA) and PCM WAV
   via the ``wave`` module — real decodes, no external deps;
3. ``NotImplementedError`` for formats neither tier handles (JPEG
   without PIL, MP3, any video — ffmpeg isn't here).

``deterministic_fake=True`` bypasses all of that with a seeded,
content-derived fake (md5 of the bytes → stable pseudo-features) so the
oracle gate and tests can exercise the full distributed path with
DuckDB-recomputable values.

Scale notes:
- Binary payloads ride in parquet with the metadata columns, so
  filters on metadata (``media_type = 'image'``, ``n_bytes < 10MB``)
  prune row groups WITHOUT touching payload bytes (parquet column
  pruning keeps the binary column unread until the UDF stage).
- ``mapInPandas`` streams Arrow batches: peak executor memory is one
  batch of payloads, controlled by ``spark.sql.execution.arrow.
  maxRecordsPerBatch`` — set it low (e.g. 64) for multi-MB media rows.
- Feature extraction is a narrow map: no shuffle anywhere.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)


def _try_import(name: str):
    try:
        return __import__(name)
    except ImportError:
        return None


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type -> channel count (palette needs its PLTE table — PIL tier only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_decode(payload: bytes):
    """Pure-stdlib PNG decode (zlib inflate + per-row unfilter) for
    8-bit non-interlaced gray/gray+alpha/RGB/RGBA — the no-PIL real
    path.  Returns (width, height, channels, pixel ndarray [h,w,c])."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_MAGIC):
        raise NotImplementedError(
            "cannot decode non-PNG payload without PIL installed"
        )
    pos, idat, meta = len(_PNG_MAGIC), [], None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            meta = (w, h, depth, color, interlace)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if meta is None or not idat:
        raise NotImplementedError("malformed PNG (no IHDR/IDAT)")
    w, h, depth, color, interlace = meta
    if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"stdlib PNG path handles 8-bit non-interlaced gray/RGB[A] only "
            f"(depth={depth} color={color} interlace={interlace}); install PIL"
        )
    c = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise NotImplementedError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        filt, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).astype(np.int32)
        if filt == 0:
            cur = line
        elif filt == 2:  # Up
            cur = line + prev
        else:  # Sub/Average/Paeth carry a left-pixel dependency: scan
            cur = line.copy()
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                b = int(prev[x])
                if filt == 1:
                    cur[x] += a
                elif filt == 3:
                    cur[x] += (int(a) + b) // 2
                elif filt == 4:
                    cc = int(prev[x - c]) if x >= c else 0
                    p = int(a) + b - cc
                    pa, pb, pc = abs(p - int(a)), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[x] += pred
                else:
                    raise NotImplementedError(f"PNG filter {filt}")
        prev = (cur & 0xFF).astype(np.uint8)
        out[y] = prev
    return w, h, c, out.reshape(h, w, c)


def _luma(px) -> float:
    """Mean luma in [0,1]: ITU-R 601 for color, plain mean for gray
    (alpha ignored)."""
    import numpy as np

    px = px.astype(np.float64)
    if px.shape[2] >= 3:
        y = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    else:
        y = px[:, :, 0]
    return float(y.mean() / 255.0)


def _decode_image_bytes(payload: bytes | None, deterministic_fake: bool):
    """(width, height, channels, mean_luma); all-None for a NULL
    payload (matches SQL semantics — an absent payload has no
    features).  Real path: PIL when importable, else the stdlib PNG
    decoder; raises NotImplementedError for formats neither handles."""
    if payload is None:
        return None, None, None, None
    if deterministic_fake:
        h = hashlib.md5(payload).digest()
        return 16 + h[0] % 240, 16 + h[1] % 240, 1 + h[2] % 4, h[3] / 255.0
    pil = _try_import("PIL.Image")
    if pil is not None:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        channels = len(img.getbands())
        import numpy as np

        px = np.asarray(img)
        if px.ndim == 2:
            px = px[:, :, None]
        return img.width, img.height, channels, _luma(px)
    w, h2, c, px = _png_decode(payload)
    return w, h2, c, _luma(px)


def _sample_frames_bytes(
    payload: bytes, n_frames: int, deterministic_fake: bool
) -> list[str]:
    """Frame-content hashes. Real impl needs ffmpeg — STUB."""
    if not deterministic_fake:
        raise NotImplementedError(
            "video frame sampling requires ffmpeg (not installed); "
            "pass deterministic_fake=True for the content-derived stand-in"
        )
    return [
        hashlib.md5((payload or b"") + bytes([i])).hexdigest() for i in range(n_frames)
    ]


def _rechunk(
    batches: Iterator[pd.DataFrame], batch_size: int
) -> Iterator[pd.DataFrame]:
    """Slice incoming Arrow batches to <= batch_size rows.

    The Arrow maxRecordsPerBatch conf is session state read at ACTION
    time, so a lazy operator cannot set-and-restore it without either
    leaking it session-wide (the bug this replaced) or having it never
    apply. Internal re-chunking bounds per-batch decode memory and the
    OUTPUT Arrow batches regardless of the session conf."""
    for pdf in batches:
        for lo in range(0, len(pdf), batch_size):
            yield pdf.iloc[lo : lo + batch_size]


def attach_metadata(df: DataFrame) -> DataFrame:
    """Derive/refresh the typed metadata columns from the payload —
    pure JVM expressions (length, crc), no Python."""
    return df.withColumn("n_bytes", F.length(F.col("payload")).cast("long"))


def extract_image_features(
    media: DataFrame, deterministic_fake: bool = False, batch_size: int = 64
) -> DataFrame:
    """Image decode + feature extraction over Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_size):
            feats = [
                _decode_image_bytes(p, deterministic_fake) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "channels": [f[2] for f in feats],
                    "mean_luma": [f[3] for f in feats],
                }
            )

    imgs = media.filter(F.col("media_type") == "image").select("media_id", "payload")
    return imgs.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def sample_video_frames(
    media: DataFrame,
    n_frames: int = 4,
    deterministic_fake: bool = False,
    batch_size: int = 16,
) -> DataFrame:
    """Frame sampling: one output row per (video, frame_idx)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_size):
            ids, idxs, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, fh in enumerate(
                    _sample_frames_bytes(payload, n_frames, deterministic_fake)
                ):
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(fh)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_hash": hashes}
            )

    vids = media.filter(F.col("media_type") == "video").select("media_id", "payload")
    return vids.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
)


def _wav_decode(payload: bytes):
    """Pure-stdlib PCM WAV parse via the ``wave`` module — the
    no-soundfile real path.  Returns (duration_s, sample_rate, rms)
    with rms over samples normalized to [-1, 1]."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            rate, nframes, width = (
                wf.getframerate(),
                wf.getnframes(),
                wf.getsampwidth(),
            )
            frames = wf.readframes(nframes)
    except (wave.Error, EOFError) as e:
        raise NotImplementedError(f"not a PCM WAV payload: {e}") from e
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    x = np.frombuffer(frames, dtype=dtype).astype(np.float64)
    if width == 1:  # 8-bit WAV is unsigned, centered at 128
        x = x - 128.0
    x /= float(1 << (8 * width - 1))
    rms = float(np.sqrt((x**2).mean())) if x.size else 0.0
    return nframes / rate if rate else 0.0, rate, rms


def _audio_features_bytes(payload: bytes | None, deterministic_fake: bool):
    """(duration_s, sample_rate, rms); all-None for a NULL payload.
    Real path: soundfile when importable, else the stdlib ``wave``
    parser; raises NotImplementedError for non-WAV without soundfile."""
    if payload is None:
        return None, None, None
    if deterministic_fake:
        h = hashlib.md5(payload).digest()
        return 0.5 + h[0] / 8.0, (8, 16, 22, 44)[h[1] % 4] * 1000, h[2] / 255.0
    sf = _try_import("soundfile")
    if sf is not None:
        import io

        import numpy as np

        data, rate = sf.read(io.BytesIO(payload), dtype="float64")
        rms = float(np.sqrt((data**2).mean())) if data.size else 0.0
        return len(data) / rate if rate else 0.0, rate, rms
    return _wav_decode(payload)


def _resize_image_bytes(
    payload: bytes, width: int, height: int, deterministic_fake: bool
) -> bytes:
    """Resized image bytes.  Real path needs a re-ENCODER, so it is
    PIL-only (the stdlib tier can decode PNG but not write one back
    efficiently); without PIL, NotImplementedError."""
    if deterministic_fake:
        # content- and size-derived stand-in payload (stable across runs)
        return hashlib.md5((payload or b"") + f"{width}x{height}".encode()).digest()
    if _try_import("PIL.Image") is not None:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).resize((width, height))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()
    raise NotImplementedError(
        "image resize requires PIL/opencv (not installed); "
        "pass deterministic_fake=True for the content-derived stand-in"
    )


def extract_audio_features(
    media: DataFrame, deterministic_fake: bool = False, batch_size: int = 64
) -> DataFrame:
    """Audio decode + feature extraction over Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, batch_size):
            feats = [
                _audio_features_bytes(p, deterministic_fake) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "duration_s": [f[0] for f in feats],
                    "sample_rate": [f[1] for f in feats],
                    "rms": [f[2] for f in feats],
                }
            )

    auds = media.filter(F.col("media_type") == "audio").select("media_id", "payload")
    return auds.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    deterministic_fake: bool = False,
) -> DataFrame:
    """Image resize — binary in, binary out (the map shape every
    payload-rewriting op shares: decode → transform → re-encode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, 16):
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        _resize_image_bytes(p, width, height, deterministic_fake)
                        for p in pdf["payload"]
                    ],
                    "width": width,
                    "height": height,
                }
            )

    imgs = media.filter(F.col("media_type") == "image").select("media_id", "payload")
    return imgs.mapInPandas(run, schema=RESIZED_SCHEMA)
