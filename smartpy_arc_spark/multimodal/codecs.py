"""Library-free media codecs and the per-payload boundary every
one-row-per-item media operator runs through.

Media travel as opaque ``binary`` columns; decode happens near the data,
in Arrow-batched Python workers, never on the driver.  This module holds
pure-Python/numpy codecs for six containers — WAV (RIFF/PCM16), BMP
(uncompressed 24-bit) and PNG (8-bit RGB/RGBA) here, baseline JPEG
(``jpeg.py``), GIF (``gif.py``) and AVI (``avi.py``) beside it — and
eight feature operators over them: ``wav_features``,
``wav_spectral_features``, ``bmp_features``, ``png_features``,
``jpeg_features``, ``gif_features``, ``avi_features`` and
``image_ahash``.

All of them, and the three one-row-per-item operators of ``binary.py``,
go through :func:`_per_payload`: one ``mapInPandas`` that calls a
per-payload function on each payload's bytes and returns the id column
plus that operator's typed fields.  The boundary's one NULL rule: a NULL
payload yields its row with NULL fields (an operator may name other
constants for that row); it never reaches the per-payload function.
A payload a codec cannot parse raises, failing the job, unless the
operator catches it (``binary.py``'s sniffing operators do).

Scale shape: decode is row-local (no shuffle) and the payload bytes
never reach the driver; features come out as small typed columns, the
raw media stays an opaque binary column end to end.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- boundary

def _per_payload(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    fields: str,
    fn: Callable[[bytes], tuple],
    *,
    null_row: tuple | None = None,
) -> DataFrame:
    """Run ``fn(bytes)`` on every non-NULL payload inside one Arrow-batched
    ``mapInPandas`` and return ``(id_col, *fields)``.

    ``fields`` is a DDL column list (``"width int, height int"``; no comma
    inside a type); ``fn`` returns one tuple in that order.  A NULL payload
    yields ``null_row`` (all NULL by default) without calling ``fn``.  The
    id column passes through untouched.  Output columns are built with
    object dtype, so an int column holding a NULL stays exact instead of
    round-tripping through float64.
    """
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)
    names = [f.split()[0] for f in fields.split(",")]
    empty = (None,) * len(names) if null_row is None else null_row

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [empty if p is None else fn(bytes(p)) for p in pdf["__p"]]
            out = pd.DataFrame(rows, columns=names, dtype=object)
            out.insert(0, "__id", pdf["__id"].to_numpy())
            yield out

    src = df.select(F.col(id_col).alias("__id"), F.col(payload_col).alias("__p"))
    out = src.mapInPandas(run, f"__id long, {fields}")
    return out.withColumnRenamed("__id", id_col)


_MEANS_E2 = "mean_r_e2 long, mean_g_e2 long, mean_b_e2 long"


def _channel_means_e2(frames: list[np.ndarray]) -> tuple[int, int, int]:
    """Red, green and blue means over every pixel of ``frames`` (each
    (h, w, channels) uint8), in integer hundredths: exact int64 sums
    before one division.  Channel ``c`` reads ``min(c, channels - 1)``,
    so a grayscale image reports its gray level three times and an
    alpha channel is ignored.  An image with no pixels reports zeros."""
    ch = frames[0].shape[2]
    sums = np.zeros(ch, dtype=np.int64)
    n = 0
    for fr in frames:
        sums += fr.reshape(-1, ch).astype(np.int64).sum(axis=0)
        n += fr.shape[0] * fr.shape[1]
    return tuple(
        int(round(sums[min(c, ch - 1)] * 100 / n)) if n else 0 for c in range(3)
    )


# ---------------------------------------------------------------- WAV

def make_wav(samples: np.ndarray, *, rate: int = 16000) -> bytes:
    """Serialize int16 PCM mono samples as a canonical 44-byte-header
    RIFF/WAVE blob (the encoder half, used by tests and fixtures)."""
    pcm = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def parse_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a PCM16 RIFF/WAVE blob → (sample_rate, n_channels, samples).

    Walks the chunk list (fmt / data may be preceded by LIST etc.), so
    any canonical PCM16 writer round-trips, not just :func:`make_wav`.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (fmt={fmt}, bits={bits})")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, channels, data


def wav_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode WAV payloads and emit real audio features:
    ``(id, sample_rate, n_samples, duration_ms, rms_e4, peak)``.

    ``rms_e4`` is ``round(sqrt(mean(x²)) * 1e4)`` over the int16 samples
    — exact integer sums of squares before one sqrt, so the value is
    engine-reproducible given the same bytes.
    """

    def row(b: bytes) -> tuple:
        rate, _, x = parse_wav(b)
        xi = x.astype(np.int64)
        n = len(xi)
        rms = float(np.sqrt((xi * xi).sum() / n)) if n else 0.0
        return (
            rate,
            n,
            int(n * 1000 // rate) if rate else 0,
            int(round(rms * 10000)),
            int(np.abs(xi).max()) if n else 0,
        )

    return _per_payload(
        df, id_col, payload_col,
        "sample_rate int, n_samples long, duration_ms long, rms_e4 long, "
        "peak int",
        row,
    )


# ---------------------------------------------------------------- BMP

def make_bmp(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BMP (BGR order, bottom-up rows, 4-byte row padding — the canonical
    Windows layout)."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += pixels[y, :, ::-1].astype(np.uint8).tobytes()  # RGB→BGR
        body += b"\x00" * pad
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(body), 0, 0, 54,
        40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    return header + bytes(body)


def parse_bmp(payload: bytes) -> np.ndarray:
    """Parse an uncompressed 24-bit BMP → (h, w, 3) uint8 RGB array."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bits = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bits != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit supported (bits={bits})")
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(abs(h)):
        off = data_off + y * stride
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR→RGB
    img = np.stack(rows)
    return img[::-1] if h > 0 else img  # bottom-up unless height < 0


def bmp_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode BMP payloads → ``(id, width, height, mean_r_e2, mean_g_e2,
    mean_b_e2)`` (channel means in integer hundredths — exact pixel sums
    before one division)."""

    def row(b: bytes) -> tuple:
        img = parse_bmp(b)
        h, w, _ = img.shape
        return (w, h, *_channel_means_e2([img]))

    return _per_payload(
        df, id_col, payload_col, f"width int, height int, {_MEANS_E2}", row
    )


# ---------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def make_png(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as a minimal 8-bit
    truecolor PNG (filter 0 on every scanline, one IDAT)."""
    import struct as _s
    import zlib

    h, w, _ = pixels.shape

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + typ
            + body
            + _s.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, RGB
    raw = b"".join(
        b"\x00" + pixels[y].astype(np.uint8).tobytes() for y in range(h)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def parse_png(payload: bytes) -> np.ndarray:
    """Parse an 8-bit truecolor (RGB / RGBA, non-interlaced) PNG into an
    (h, w, channels) uint8 array — full zlib inflate plus all five
    scanline unfilters (None/Sub/Up/Average/Paeth), vectorized per row.
    """
    import struct as _s
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    w = h = None
    channels = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        size, typ = _s.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if typ == b"IHDR":
            w, h, depth, color, comp, filt, interlace = _s.unpack(">IIBBBBB", body)
            if depth != 8 or color not in (2, 6) or interlace:
                raise ValueError(
                    f"only 8-bit RGB/RGBA non-interlaced supported "
                    f"(depth={depth}, color={color}, interlace={interlace})"
                )
            channels = 3 if color == 2 else 4
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + size
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = int(prev[x])
                if ft == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ft == 3:
                    cur[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - channels]) if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    return out.reshape(h, w, channels)


def _image_row(parse: Callable[[bytes], np.ndarray]) -> Callable[[bytes], tuple]:
    """Per-payload function of the single-image containers that report
    ``(width, height, n_channels, *channel means)``."""

    def row(b: bytes) -> tuple:
        img = parse(b)
        h, w, ch = img.shape
        return (w, h, ch, *_channel_means_e2([img]))

    return row


def png_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode PNG payloads → ``(id, width, height, n_channels,
    mean_r_e2, mean_g_e2, mean_b_e2)`` — same feature contract as
    :func:`bmp_features`, so pipelines swap containers freely."""
    return _per_payload(
        df, id_col, payload_col,
        f"width int, height int, n_channels int, {_MEANS_E2}",
        _image_row(parse_png),
    )


def jpeg_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode baseline-JPEG payloads (real Huffman + IDCT via
    ``multimodal/jpeg.py``) → ``(id, width, height, n_channels,
    mean_r_e2, mean_g_e2, mean_b_e2)`` — the same feature contract as
    :func:`png_features` / :func:`bmp_features`, so pipelines swap
    containers freely."""
    from smartpy_arc_spark.multimodal.jpeg import parse_jpeg

    return _per_payload(
        df, id_col, payload_col,
        f"width int, height int, n_channels int, {_MEANS_E2}",
        _image_row(parse_jpeg),
    )


def gif_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode GIF payloads (real LZW via ``multimodal/gif.py``) →
    ``(id, width, height, n_frames, mean_r_e2, mean_g_e2, mean_b_e2)``
    with channel means over ALL frames — the same exact-integer-sums
    contract as the other codec feature extractors, plus the frame count
    an animation pipeline needs."""
    from smartpy_arc_spark.multimodal.gif import parse_gif

    def row(b: bytes) -> tuple:
        frames = parse_gif(b)
        h, w, _ = frames[0].shape
        return (w, h, len(frames), *_channel_means_e2(frames))

    return _per_payload(
        df, id_col, payload_col,
        f"width int, height int, n_frames int, {_MEANS_E2}", row,
    )


def avi_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode AVI video payloads (real RIFF/DIB parse via
    ``multimodal/avi.py``) → ``(id, width, height, n_frames, fps,
    mean_r_e2, mean_g_e2, mean_b_e2)`` with channel means over ALL frames
    — same exact-integer-sums contract as the image codecs, plus the
    frame count and frame rate a video pipeline needs."""
    from smartpy_arc_spark.multimodal.avi import parse_avi

    def row(b: bytes) -> tuple:
        frames, info = parse_avi(b)
        h, w, _ = frames[0].shape
        return (w, h, len(frames), info.get("fps", 0), *_channel_means_e2(frames))

    return _per_payload(
        df, id_col, payload_col,
        f"width int, height int, n_frames int, fps int, {_MEANS_E2}", row,
    )


# ---------------------------------------------------------- perceptual hash

def average_hash_array(img: np.ndarray, *, grid: int = 8) -> int:
    """Perceptual average-hash (aHash) of an (h, w, 3) uint8 RGB array —
    all-integer, library-free, deterministic: integer-luma grayscale
    (299/587/114 fixed-point), block-mean pool to ``grid × grid`` with
    floor-partition cell boundaries, threshold each cell at the integer
    mean of the cell means, pack row-major MSB-first into ``grid²`` bits.

    Returned as a Python int in [0, 2**64) for grid=8; near-duplicate
    images differ in a few bits (Hamming), unrelated images in ~32.
    """
    h, w, _ = img.shape
    luma = (
        img[:, :, 0].astype(np.int64) * 299
        + img[:, :, 1].astype(np.int64) * 587
        + img[:, :, 2].astype(np.int64) * 114
    )  # scaled by 1000, stays integer
    ys = (np.arange(h) * grid) // h
    xs = (np.arange(w) * grid) // w
    cells = np.zeros((grid, grid), dtype=np.int64)
    counts = np.zeros((grid, grid), dtype=np.int64)
    np.add.at(cells, (ys[:, None].repeat(w, 1), xs[None, :].repeat(h, 0)), luma)
    np.add.at(counts, (ys[:, None].repeat(w, 1), xs[None, :].repeat(h, 0)), 1)
    means = cells // np.maximum(counts, 1)
    thresh = int(means.sum()) // (grid * grid)
    bits = (means >= thresh).astype(np.uint8).reshape(-1)
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_ahash(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    grid: int = 8,
) -> DataFrame:
    """Decode BMP payloads and emit their perceptual average-hash:
    ``(id, ahash)`` with the 64-bit hash as a signed BIGINT (two's
    complement, so grouping/banding works on the raw column).  Decode and
    hash are per-row local; the image dedup that follows is an ordinary
    hash groupBy."""

    def row(b: bytes) -> tuple:
        hv = average_hash_array(parse_bmp(b), grid=grid)
        return (hv - (1 << 64) if hv >= (1 << 63) else hv,)  # two's complement

    return _per_payload(df, id_col, payload_col, "ahash long", row)


# ---------------------------------------------------------- audio spectrum

def wav_spectral_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frequency-domain audio features over decoded WAV PCM: dominant
    frequency (argmax rFFT magnitude, DC excluded), spectral centroid
    (magnitude-weighted mean frequency) and bandwidth (weighted std) —
    the features an audio-dedup/classification pipeline derives before
    any model sees the clip.

    numpy ``rfft`` per payload — row-local, linear scale-out;
    deterministic for given bytes (FFT of identical input is identical
    on a platform, pinned by closed-form pure-tone tests, not
    cross-engine hashes).

    Returns ``(id, sample_rate, n_samples, dominant_hz_e2,
    centroid_hz_e2, bandwidth_hz_e2)``.
    """

    def row(b: bytes) -> tuple:
        rate, _, x = parse_wav(b)
        n = len(x)
        if n < 2:
            return (rate, n, 0, 0, 0)
        mag = np.abs(np.fft.rfft(x.astype(np.float64)))
        freqs = np.fft.rfftfreq(n, d=1.0 / rate)
        m = mag.copy()
        m[0] = 0.0  # DC is level, not pitch
        dom = float(freqs[int(np.argmax(m))])
        w = m.sum()
        if w > 0:
            centroid = float((freqs * m).sum() / w)
            bw = float(np.sqrt(((freqs - centroid) ** 2 * m).sum() / w))
        else:
            centroid, bw = 0.0, 0.0
        return (
            rate,
            n,
            int(round(dom * 100)),
            int(round(centroid * 100)),
            int(round(bw * 100)),
        )

    return _per_payload(
        df, id_col, payload_col,
        "sample_rate int, n_samples long, dominant_hz_e2 long, "
        "centroid_hz_e2 long, bandwidth_hz_e2 long",
        row,
    )
