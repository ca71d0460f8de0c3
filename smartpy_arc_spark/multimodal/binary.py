"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns plus typed metadata — the pattern
for 100 TB multimodal training pipelines: Spark moves bytes + metadata,
per-item decode happens in Arrow-batched Python workers near the data,
never on the driver.  Every operator here except ``frame_sample`` (one
input row → several frames) emits one row per item through
``codecs._per_payload``, the shared boundary; a NULL payload yields its
row with NULL outputs.

Decode is REAL for every container with a pure-Python codec in this repo —
JPEG (``jpeg.py``: Huffman+IDCT), PNG/BMP/WAV (``codecs.py``), GIF
animations (``gif.py``: LZW) — selected by magic-byte sniffing under
``stub=False``.  Each operator also keeps a ``stub=True`` arithmetic fake
whose output an external oracle can recompute from payload bytes alone
(the cross-engine-checkable mode the driver's oracle queries use).  The
only genuinely out-of-scope decode is real video (mp4/webm — needs
ffmpeg, absent here); ``frame_sample`` documents that boundary and
handles animated GIF as the real moving-image path.  Learned-model
embedding extraction (CLIP/ResNet) is likewise out of scope — the real
path of ``extract_features`` computes CLASSICAL decode-based features
with the same schema a model would produce.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartpy_arc_spark.multimodal.codecs import (
    _PNG_SIG,
    _per_payload,
    make_png,
    parse_bmp,
    parse_png,
)


def attach_payload(df: DataFrame, src_col: str, payload_col: str = "payload") -> DataFrame:
    """Pack a column's UTF-8 bytes as the opaque media payload (the
    testdata has no real media; callers with real files use
    ``spark.read.format('binaryFile')`` which yields the same shape)."""
    return df.withColumn(payload_col, F.col(src_col).cast("binary"))


def _sniff_image(payload: bytes) -> tuple[str, np.ndarray] | None:
    """Decode a still image by its magic bytes → ``(format, rgb)``, with
    ``rgb`` an (h, w, 3) uint8 array (the first frame of a GIF; a
    grayscale image repeated into three channels, an alpha channel
    dropped).  JPEG (``FF D8``), PNG, BMP and GIF are recognized; an
    unrecognized or corrupt payload returns None rather than raising
    (corpus-scale decode must not die on one bad file)."""
    from smartpy_arc_spark.multimodal.gif import parse_gif
    from smartpy_arc_spark.multimodal.jpeg import parse_jpeg

    try:
        if payload[:2] == b"\xff\xd8":
            fmt, img = "jpeg", parse_jpeg(payload)
        elif payload[:8] == _PNG_SIG:
            fmt, img = "png", parse_png(payload)
        elif payload[:2] == b"BM":
            fmt, img = "bmp", parse_bmp(payload)
        elif payload[:4] == b"GIF8":
            fmt, img = "gif", parse_gif(payload)[0]
        else:
            return None
    except Exception:
        return None
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    return fmt, img[:, :, :3]


def _stub_image_meta(payload: bytes) -> tuple:
    """Deterministic fake decode: dimensions derived from payload length so
    an external oracle can recompute them arithmetically."""
    n = len(payload)
    width = n % 640
    height = (n * 7) % 480
    fmt = "png" if n % 2 == 0 else "jpeg"
    return (n, width, height, fmt)


def decode_image_meta(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    stub: bool = True,
) -> DataFrame:
    """Per-item image decode → metadata rows
    ``(item_id, n_bytes, width, height, format)``, named ``item_id``
    whatever ``id_col`` is; a NULL payload gives NULL metadata.

    ``stub=False`` runs the REAL pure-Python decoders (``codecs.py`` /
    ``jpeg.py`` / ``gif.py``): the container format is sniffed from magic
    bytes — JPEG (``FF D8``), PNG, BMP, GIF — and width/height come from
    an actual decode.  Unrecognized payloads yield ``format=NULL`` with
    null dimensions (and their ``n_bytes``) rather than an error.
    ``stub=True`` keeps the arithmetic fake whose output an external
    oracle can recompute from the payload length alone.
    """

    def meta(b: bytes) -> tuple:
        if stub:
            return _stub_image_meta(b)
        got = _sniff_image(b)
        if got is None:
            return (len(b), None, None, None)
        fmt, img = got
        return (len(b), img.shape[1], img.shape[0], fmt)

    return _per_payload(
        df, id_col, payload_col,
        "n_bytes int, width int, height int, format string", meta,
    ).withColumnRenamed(id_col, "item_id")


def frame_sample(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    n_frames: int = 4,
    stub: bool = True,
) -> DataFrame:
    """Moving-image frame sampling: ``n_frames`` evenly-spaced frames per
    item, one input row → n output rows, all executor-side.

    ``stub=False`` (the real path): animated-GIF payloads decode with the
    pure-Python LZW codec (``multimodal/gif.py``), AVI video payloads with
    the pure-Python RIFF/DIB codec (``multimodal/avi.py``), and the
    sampled frames re-encode as single-frame lossless PNG; compressed
    containers (mp4/webm) would need ffmpeg, which is absent — those
    payloads are skipped.
    ``stub=True`` keeps the byte-slice fake whose output an arithmetic
    oracle can recompute."""
    from smartpy_arc_spark.session import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)

    def sample(batches):
        from smartpy_arc_spark.multimodal.gif import parse_gif

        for pdf in batches:
            ids, idxs, frames, hashes = [], [], [], []

            def push(item_id, i, chunk):
                ids.append(int(item_id))
                idxs.append(i)
                frames.append(chunk)
                hashes.append(hashlib.md5(chunk).hexdigest())

            for item_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                b = bytes(payload)
                if stub:
                    step = max(len(b) // n_frames, 1)
                    for i in range(n_frames):
                        push(item_id, i, b[i * step : (i + 1) * step] or b[-1:])
                elif b[:4] == b"GIF8" or (b[:4] == b"RIFF" and b[8:12] == b"AVI "):
                    try:
                        if b[:4] == b"GIF8":
                            decoded = parse_gif(b)
                        else:
                            from smartpy_arc_spark.multimodal.avi import parse_avi

                            decoded, _ = parse_avi(b)
                    except Exception:
                        continue
                    k = len(decoded)
                    picks = sorted({i * k // n_frames for i in range(min(n_frames, k))})
                    for i, fi in enumerate(picks):
                        push(item_id, i, make_png(decoded[fi]))
            yield pd.DataFrame(
                {"item_id": ids, "frame_idx": idxs, "frame": frames,
                 "frame_md5": hashes}
            )

    return df.select(id_col, payload_col).mapInPandas(
        sample, "item_id long, frame_idx int, frame binary, frame_md5 string"
    )


def extract_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    dim: int = 8,
    normalize: bool = False,
    stub: bool = True,
) -> DataFrame:
    """Embedding extraction stub: payload → fixed-``dim`` float vector
    ``(item_id, features)`` (``array<float>`` output, the shape a
    CLIP/ResNet encoder produces; feeds the similarity/ANN operators
    directly).

    The ``stub=True`` fake is arithmetic on payload length — ``v_j =
    ((n·P_j + Q_j) mod 1000) / 1000`` — so an external oracle can
    recompute it.  ``stub=False`` computes REAL classical features from an
    actual decode (magic-sniffed JPEG/PNG/BMP/GIF via the pure-Python
    codecs): normalized channel means/stds, aspect ratio, and coarse
    2×2-region luminances, tiled/truncated to ``dim`` — the schema and
    batch shape are exactly what a learned encoder would produce, so the
    similarity/ANN operators downstream are agnostic to which ran.
    Neural-model (CLIP/ResNet) extraction itself is out of scope here (no
    model runtime in this container); corpus-TRAINED text embeddings are
    real and live in ``operators/lsa.py`` (distributed LSA).
    NULL and unrecognized payloads yield null vectors.
    """

    def real_features(b: bytes) -> list[float] | None:
        got = _sniff_image(b)
        if got is None:
            return None
        f = got[1].astype(np.float64) / 255.0
        h, w, _ = f.shape
        lum = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
        hh, wh = max(h // 2, 1), max(w // 2, 1)
        feats = [
            *f.reshape(-1, 3).mean(axis=0),          # channel means
            *f.reshape(-1, 3).std(axis=0),           # channel stds
            min(w / h, 4.0) / 4.0,                   # bounded aspect
            float(lum[:hh, :wh].mean()),             # 2x2 region luminances
            float(lum[:hh, wh:].mean()) if w > 1 else 0.0,
            float(lum[hh:, :wh].mean()) if h > 1 else 0.0,
            float(lum[hh:, wh:].mean()) if h > 1 and w > 1 else 0.0,
        ]
        reps = (dim + len(feats) - 1) // len(feats)
        return [float(x) for x in (feats * reps)[:dim]]

    def featurize(b: bytes) -> tuple:
        if stub:
            n = len(b)
            v = [((n * (2 * j + 3) + 7 * j) % 1000) / 1000.0 for j in range(dim)]
        else:
            v = real_features(b)
        if v is not None and normalize:
            norm = sum(x * x for x in v) ** 0.5 or 1.0
            v = [x / norm for x in v]
        return (v,)

    return _per_payload(
        df, id_col, payload_col, "features array<float>", featurize
    ).withColumnRenamed(id_col, "item_id")


def resize_image(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    width: int = 64,
    height: int = 64,
    stub: bool = True,
) -> DataFrame:
    """Image resize: payload → resized payload + output dims
    ``(item_id, payload, width, height)`` (binary in, binary out,
    metadata updated — the in-place media-transform shape).

    ``stub=False`` (the real path): sniff the container (JPEG/PNG/BMP),
    decode with the pure-Python codecs, nearest-neighbor resample to
    ``width×height``, re-encode as PNG (lossless, so the output is a
    deterministic function of the input bytes).  NULL, GIF and
    unrecognized payloads pass through as a null payload; every row
    carries the target ``width``/``height``.  ``stub=True`` keeps the
    legacy truncate/cycle fake for the arithmetic-oracle queries."""
    target = width * height

    def resize(b: bytes) -> tuple:
        if stub:
            reps = (target // max(len(b), 1)) + 1
            return ((b * reps)[:target], width, height)
        got = _sniff_image(b)
        if got is None or got[0] == "gif":
            return (None, width, height)
        img = got[1]
        ys = (np.arange(height) * img.shape[0]) // height
        xs = (np.arange(width) * img.shape[1]) // width
        return (make_png(img[ys][:, xs]), width, height)

    return _per_payload(
        df, id_col, payload_col, "payload binary, width int, height int",
        resize, null_row=(None, width, height),
    ).withColumnRenamed(id_col, "item_id")
