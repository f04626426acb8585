"""Multimodal column operators (SURVEY.md §2.11 L7).

Images/audio/video are opaque ``binary`` columns + typed metadata. The
Spark-side plumbing — schemas, partitioning, UDF signatures, Arrow batch
shapes — is real and tested. Decode tiers:

- **BMP: real decode/encode** (:func:`decode_bmp`/:func:`encode_bmp`) —
  uncompressed 24-bit SpreadsheetML-era simplicity, numpy + struct only.
- **Other formats**: PIL when deployed; otherwise a clearly-marked
  deterministic stub (``_decode_image_stub``) keeps the contract testable.
- **Resize is real** (:func:`resize_nearest`, numpy index maps).

Pattern: ``mapInPandas`` for decode/feature-extract (row-count-changing,
whole-batch numpy work), plain ``pandas_udf`` for per-row features.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("length", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def _decode_image_stub(content: bytes) -> np.ndarray:
    """Deterministic fake decoder: bytes → pseudo-image array.

    REAL IMPLEMENTATION REQUIRES PIL/opencv (not in this container):
    ``np.asarray(PIL.Image.open(io.BytesIO(content)))``. The fake derives
    shape and pixels from a hash of the bytes so tests are reproducible.
    """
    import zlib

    h = zlib.crc32(content) if content else 0  # crc32: process-stable, unlike hash()
    w, ht = 16 + h % 16, 16 + (h // 16) % 16
    rng = np.random.default_rng(h % (2**32))
    return rng.integers(0, 256, size=(ht, w, 3), dtype=np.uint8)


def decode_bmp(content: bytes) -> np.ndarray:
    """REAL decoder for uncompressed 24-bit BMP (the format is two packed
    little-endian C structs + raw BGR rows — stdlib-parseable).

    Supports BITMAPINFOHEADER, bottom-up or top-down, 4-byte row padding.
    Returns (h, w, 3) uint8 RGB. Anything else (compressed, paletted,
    other depths) raises ValueError — quarantine, don't guess.
    """
    import struct

    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP file")
    pixel_offset = struct.unpack_from("<I", content, 10)[0]
    header_size = struct.unpack_from("<I", content, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, comp={compression})")
    top_down = height < 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    need = pixel_offset + row_stride * height
    if len(content) < need:
        raise ValueError(f"truncated BMP: {len(content)} bytes < {need}")
    raw = np.frombuffer(content, dtype=np.uint8, count=row_stride * height, offset=pixel_offset)
    rows = raw.reshape(height, row_stride)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """Inverse of :func:`decode_bmp` (bottom-up 24-bit): test fixture
    generator and a real thumbnail sink format."""
    import struct

    h, w = arr.shape[:2]
    row_stride = (w * 3 + 3) & ~3
    pad = row_stride - w * 3
    bgr = arr[:, :, ::-1]
    body = b"".join(bgr[r].tobytes() + b"\x00" * pad for r in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return file_header + info + body


def decode_image(content: bytes) -> np.ndarray:
    """Dispatch decoder: real BMP and PNG paths; PIL for other formats
    when deployed; deterministic stub otherwise (honestly fake, tests pin
    it)."""
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        from etl_hiscox_spark.operators.png import decode_png

        return decode_png(content)
    if content[:2] == b"\xff\xd8":
        from etl_hiscox_spark.operators.jpeg import decode_jpeg

        arr = decode_jpeg(content)
        # grayscale JFIF decodes to (h,w); normalize to the (h,w,c)
        # contract every other decode path returns
        return arr[:, :, None] if arr.ndim == 2 else arr
    try:
        import io

        from PIL import Image  # not in this container; real path in deployment

        return np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
    except ImportError:
        return _decode_image_stub(content)


def resize_nearest(arr: np.ndarray, target: tuple[int, int]) -> np.ndarray:
    """REAL nearest-neighbor resample via integer index maps (numpy-only).
    (th, tw) output; channels preserved."""
    th, tw = target
    h, w = arr.shape[:2]
    rows = (np.arange(th) * h) // th
    cols = (np.arange(tw) * w) // tw
    return arr[rows][:, cols]


def image_features(df: DataFrame, content_col: str = "content", path_col: str = "path") -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched).

    Each batch decodes to numpy once and emits one feature row per input
    row; undecodable bytes (corrupt files, loudly-rejected variants like
    progressive JPEG or interlaced PNG) yield a NULL-featured row — the
    quarantine semantics of the audio tier, because at corpus scale ONE
    bad file must not fail the task. At scale: repartition upstream so
    batches are even; the binary column never shuffles after this
    projection (features are tiny).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    arr = decode_image(bytes(content) if content is not None else b"")
                    # alpha is coverage, not intensity: exclude it from the
                    # mean for 2-channel (gray+alpha) and 4-channel (RGBA)
                    # arrays — same policy as image_channel_stats
                    c = int(arr.shape[2])
                    intensity = arr[:, :, : 1 if c == 2 else (3 if c == 4 else c)]
                    rows.append(
                        {
                            "path": path,
                            "width": int(arr.shape[1]),
                            "height": int(arr.shape[0]),
                            "n_channels": c,
                            "mean_intensity": float(intensity.mean()),
                        }
                    )
                except ValueError:
                    rows.append({"path": path, "width": None, "height": None,
                                 "n_channels": None, "mean_intensity": None})
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


CHANNEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def image_channel_stats(
    df: DataFrame, content_col: str = "content", path_col: str = "path"
) -> DataFrame:
    """Per-channel mean intensities — the normalization-statistics pass of
    an image training pipeline (channel means/stds feed the transform
    spec). Same Arrow mapInPandas contract as :func:`image_features`,
    including the NULL-row quarantine for undecodable bytes; grayscale
    images report their single channel in all three columns."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    arr = decode_image(bytes(content) if content is not None else b"")
                    means = [float(arr[:, :, c].mean()) for c in range(arr.shape[2])]
                    # 2-channel = gray+alpha: padding the raw list would report
                    # the ALPHA mean as mean_g — replicate the gray channel
                    # instead (alpha is not an intensity)
                    if len(means) == 2:
                        means = [means[0]]
                    while len(means) < 3:
                        means.append(means[0])
                    rows.append(
                        {
                            "path": path,
                            "width": int(arr.shape[1]),
                            "height": int(arr.shape[0]),
                            "n_channels": int(arr.shape[2]),
                            "mean_r": means[0],
                            "mean_g": means[1],
                            "mean_b": means[2],
                        }
                    )
                except ValueError:
                    rows.append({"path": path, "width": None, "height": None,
                                 "n_channels": None, "mean_r": None,
                                 "mean_g": None, "mean_b": None})
            yield pd.DataFrame(rows, columns=[f.name for f in CHANNEL_STATS_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, CHANNEL_STATS_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.StringType()),
    ]
)


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual difference-hash (dHash) — the image near-dedup signature.

    decode → intensity plane (alpha excluded, channels averaged) →
    nearest-neighbor resize to (hash_size, hash_size+1) → one bit per
    horizontally adjacent pair (left > right), row-major. Output ``dhash``
    is the bit string ('0'/'1', hash_size² chars): integer-free so the
    64th bit never fights BIGINT sign conventions across engines, and
    Hamming distance is a character-compare away. Visually-near images
    (crops, recompressions, small edits) land within a few bits, so the
    SimHash block-bucket machinery (``dedup.simhash_blocks`` pigeonhole)
    applies verbatim for pairing at scale — never all-pairs. Undecodable
    bytes quarantine to a NULL-hash row, as every media path."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    arr = decode_image(bytes(content) if content is not None else b"")
                    c = int(arr.shape[2])
                    gray = (
                        arr[:, :, : 1 if c == 2 else (3 if c == 4 else c)]
                        .astype(np.float64)
                        .mean(axis=2)
                    )
                    small = resize_nearest(gray, (hash_size, hash_size + 1))
                    bits = small[:, :-1] > small[:, 1:]
                    rows.append(
                        {
                            "path": path,
                            "width": int(arr.shape[1]),
                            "height": int(arr.shape[0]),
                            "dhash": "".join(
                                "1" if b else "0" for b in bits.ravel()
                            ),
                        }
                    )
                except ValueError:
                    rows.append(
                        {"path": path, "width": None, "height": None, "dhash": None}
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in DHASH_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, DHASH_SCHEMA)


FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("dhash", T.StringType()),
    ]
)


def video_frame_dhash(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
    every_n: int = 1,
    hash_size: int = 8,
) -> DataFrame:
    """Per-frame perceptual dHash of an animated clip — the video
    near-dedup signature (GIF is the real decodable path; compressed
    codecs stay loudly gated in :func:`operators.gif` / the decode
    dispatch).

    decode frames → sample every ``every_n``-th → per frame the SAME
    intensity/resize/adjacent-compare rule as :func:`image_dhash`, so a
    clip becomes a SET of 64-bit strings and clip-level near-dup is
    "how many frame hashes do two clips share" — an equi-join on the
    hash value, never all-pairs (see the m10 declared query). One
    explode row per sampled frame; undecodable clips quarantine to a
    single NULL-hash row (frame_index NULL), as every media path.
    """
    from etl_hiscox_spark.operators.gif import decode_gif

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    frames = decode_gif(bytes(content) if content is not None else b"")
                    for fi in range(0, len(frames), every_n):
                        gray = frames[fi].astype(np.float64).mean(axis=2)
                        small = resize_nearest(gray, (hash_size, hash_size + 1))
                        bits = small[:, :-1] > small[:, 1:]
                        rows.append(
                            {
                                "path": path,
                                "frame_index": fi,
                                "dhash": "".join("1" if b else "0" for b in bits.ravel()),
                            }
                        )
                except ValueError:
                    rows.append({"path": path, "frame_index": None, "dhash": None})
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_DHASH_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, FRAME_DHASH_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: REAL codec tier for PCM WAV (RIFF is two packed little-endian
# chunks + raw samples — stdlib-parseable, same situation as BMP). Lossy
# formats (mp3/ogg/flac) need a real codec library and stay stubbed.
# ---------------------------------------------------------------------------


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """REAL decoder for PCM16 WAV: returns ((n_samples, n_channels) int16
    array, sample_rate). Walks RIFF chunks (fmt/data can be separated by
    LIST/fact chunks); anything not uncompressed PCM16 raises ValueError —
    quarantine, don't guess (same policy as :func:`decode_bmp`)."""
    import struct

    if len(content) < 44 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # declared size lies → struct.error otherwise
                raise ValueError("WAV fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only uncompressed PCM16 supported (format={audio_format}, bits={bits})")
    if n_channels < 1 or sample_rate < 1:
        raise ValueError(f"invalid WAV header (channels={n_channels}, rate={sample_rate})")
    samples = np.frombuffer(data[: (len(data) // (2 * n_channels)) * 2 * n_channels], dtype="<i2")
    return samples.reshape(-1, n_channels), sample_rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Inverse of :func:`decode_wav` (PCM16): fixture generator and a real
    sink format for extracted clips."""
    import struct

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n_channels = arr.shape[1]
    body = arr.tobytes()
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def audio_features(df: DataFrame, content_col: str = "content", path_col: str = "path") -> DataFrame:
    """Decode + feature-extract for audio via mapInPandas: REAL for PCM
    WAV (duration, RMS over float64, absolute peak); non-WAV bytes yield a
    NULL-featured row (quarantine semantics — the malformed-row policy of
    the similarity tier). Features are tiny, so the binary column never
    shuffles: this projection is where it leaves the plan."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    samples, rate = decode_wav(bytes(content) if content is not None else b"")
                    x = samples.astype(np.float64)
                    rows.append(
                        {
                            "path": path,
                            "sample_rate": rate,
                            "n_samples": samples.shape[0],
                            "n_channels": samples.shape[1],
                            "duration_ms": samples.shape[0] * 1000.0 / rate,
                            "rms": float(np.sqrt((x * x).mean())),
                            "peak": int(np.abs(samples).max()) if samples.size else 0,
                        }
                    )
                except ValueError:
                    rows.append({"path": path, "sample_rate": None, "n_samples": None,
                                 "n_channels": None, "duration_ms": None, "rms": None,
                                 "peak": None})
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


SPECTRAL_PEAK_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("peak_bin", T.IntegerType()),
        T.StructField("peak_freq_hz", T.DoubleType()),
        T.StructField("peak_mag", T.DoubleType()),
    ]
)


def audio_spectral_peak(
    df: DataFrame, content_col: str = "content", path_col: str = "path"
) -> DataFrame:
    """Dominant-frequency extraction: decode PCM WAV, rfft the (channel-
    downmixed) clip, report the strongest non-DC bin and its frequency.

    The DSP pass a speech/music curation pipeline runs to drop silence,
    hum, and test tones. DC (bin 0) is excluded — a constant offset is
    level, not pitch. peak_freq_hz = peak_bin * rate / n (exact arithmetic
    from the integers, so an oracle can replay it); peak_mag is the raw
    |rfft| magnitude for pytest-side physics checks. Non-WAV bytes yield a
    NULL-featured row (quarantine semantics, as :func:`audio_features`).
    Per-file numpy FFT (n log n) inside Arrow mapInPandas — same
    irreducible-Python batching as every codec path."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    samples, rate = decode_wav(bytes(content) if content is not None else b"")
                    x = samples.astype(np.float64).mean(axis=1)  # downmix
                    n = x.shape[0]
                    if n < 4:
                        raise ValueError("clip too short for a spectrum")
                    mag = np.abs(np.fft.rfft(x))
                    pk = 1 + int(np.argmax(mag[1:]))
                    rows.append(
                        {
                            "path": path,
                            "n_samples": n,
                            "peak_bin": pk,
                            "peak_freq_hz": pk * float(rate) / n,
                            "peak_mag": float(mag[pk]),
                        }
                    )
                except ValueError:
                    rows.append({"path": path, "n_samples": None, "peak_bin": None,
                                 "peak_freq_hz": None, "peak_mag": None})
            yield pd.DataFrame(rows, columns=[f.name for f in SPECTRAL_PEAK_SCHEMA.fields])

    return df.select(path_col, content_col).mapInPandas(extract, SPECTRAL_PEAK_SCHEMA)


FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)


def audio_band_fingerprint(
    df: DataFrame,
    bands: list[tuple[int, int]],
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Spectral-band energy fingerprint — the audio near-dedup signature
    (the chromaprint/echoprint family shape, one frame per clip here).

    decode → downmix → rfft → per-band energy (sum |X[k]|² over each
    [lo, hi) bin range) → one bit per adjacent band pair (left > right),
    emitted as a '0'/'1' string of len(bands)-1 chars. Re-encodes,
    level shifts, and codec round-trips preserve band-energy ORDER far
    better than absolute values, which is why fingerprints compare
    ordinal bits, not magnitudes — and the bit-string form pairs at scale
    through the same block-bucket pigeonhole as image dHash / SimHash.
    Undecodable or too-short clips quarantine to a NULL-fingerprint row.
    """
    if len(bands) < 2:
        raise ValueError("audio_band_fingerprint needs at least two bands")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                try:
                    samples, _rate = decode_wav(
                        bytes(content) if content is not None else b""
                    )
                    x = samples.astype(np.float64).mean(axis=1)
                    n = x.shape[0]
                    if n < 2 * max(hi for _, hi in bands):
                        raise ValueError("clip too short for the band plan")
                    mag2 = np.abs(np.fft.rfft(x)) ** 2
                    e = np.array([mag2[lo:hi].sum() for lo, hi in bands])
                    bits = "".join(
                        "1" if e[i] > e[i + 1] else "0" for i in range(len(e) - 1)
                    )
                    rows.append({"path": path, "n_samples": n, "fingerprint": bits})
                except ValueError:
                    rows.append({"path": path, "n_samples": None, "fingerprint": None})
            yield pd.DataFrame(
                rows, columns=[f.name for f in FINGERPRINT_SCHEMA.fields]
            )

    return df.select(path_col, content_col).mapInPandas(extract, FINGERPRINT_SCHEMA)


def gif_frame_features(
    df: DataFrame, every_n: int = 2, content_col: str = "content", path_col: str = "path"
) -> DataFrame:
    """REAL video-tier frame sampling for GIF inputs: decode every frame
    (pure-stdlib LZW, :mod:`operators.gif`), keep every ``every_n``-th,
    emit one row per sampled frame with shape + mean intensity.

    Same Arrow mapInPandas shape as image/audio features: binary in,
    frame rows out, decode cost per-row-irreducible. Non-GIF bytes raise
    (route them through a codec-gated path — silently guessing frames is
    worse than failing)."""
    from etl_hiscox_spark.operators.gif import decode_gif

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col], pdf[content_col]):
                frames = decode_gif(bytes(content))
                for i in range(0, len(frames), every_n):
                    f = frames[i]
                    rows.append(
                        {
                            "path": path,
                            "frame_index": i,
                            "height": f.shape[0],
                            "width": f.shape[1],
                            "mean_intensity": float(f.mean()),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["path", "frame_index", "height", "width", "mean_intensity"],
            )

    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("mean_intensity", T.DoubleType()),
        ]
    )
    return df.select(F.col(path_col).alias("path"), F.col(content_col).alias("content")).mapInPandas(
        extract, schema
    )
