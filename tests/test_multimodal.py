"""Multimodal operators: the library-free codecs (WAV, BMP, PNG, JPEG,
GIF, AVI), the one-row-per-item operators that share the per-payload
boundary (``codecs._per_payload``), and ``frame_sample``."""

import numpy as np
import pytest

from smartpy_arc_spark.multimodal import binary, codecs


# ------------------------------------------------- codecs and media operators

def test_wav_roundtrip_and_features(spark):
    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import (
        make_wav,
        parse_wav,
        wav_features,
    )

    x = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
    rate, ch, back = parse_wav(make_wav(x, rate=8000))
    assert rate == 8000 and ch == 1
    assert np.array_equal(back, x)

    df = spark.createDataFrame(
        [(1, bytearray(make_wav(x, rate=8000)))], "item_id long, payload binary"
    )
    r = wav_features(df).collect()[0]
    assert r["sample_rate"] == 8000 and r["n_samples"] == 5
    assert r["peak"] == 32768
    xi = x.astype(np.int64)
    assert r["rms_e4"] == round(float(np.sqrt((xi * xi).sum() / 5)) * 10000)


def test_bmp_roundtrip_and_features(spark):
    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import (
        bmp_features,
        make_bmp,
        parse_bmp,
    )

    rng = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(5, 3, 3)
    back = parse_bmp(make_bmp(rng))
    assert np.array_equal(back, rng)  # BGR/bottom-up/padding all undone

    df = spark.createDataFrame(
        [(7, bytearray(make_bmp(rng)))], "item_id long, payload binary"
    )
    r = bmp_features(df).collect()[0]
    assert (r["width"], r["height"]) == (3, 5)
    sums = rng.reshape(-1, 3).astype(int).sum(axis=0)
    assert r["mean_r_e2"] == round(sums[0] * 100 / 15)
    assert r["mean_b_e2"] == round(sums[2] * 100 / 15)


def test_wav_rejects_non_pcm(spark):
    import pytest as _pytest

    from smartpy_arc_spark.multimodal.codecs import parse_bmp, parse_wav

    with _pytest.raises(ValueError):
        parse_wav(b"nonsense bytes here padded out to enough length....")
    with _pytest.raises(ValueError):
        parse_bmp(b"XXnot a bitmap")


def test_png_roundtrip_all_filters(spark):
    """parse_png must undo every scanline filter — zlib recompression of
    externally-filtered data is exercised by hand-building the stream."""
    import struct as _s
    import zlib

    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import (
        _PNG_SIG,
        make_png,
        parse_png,
        png_features,
    )

    img = (np.arange(6 * 4 * 3, dtype=np.uint8) * 7 % 256).reshape(6, 4, 3)
    assert np.array_equal(parse_png(make_png(img)), img)

    # re-encode with every filter type per row (cycled 0..4) and make
    # sure unfiltering still reconstructs the same pixels
    h, w, ch = img.shape
    stride = w * ch
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    flat = img.reshape(h, stride).astype(np.int32)
    for y in range(h):
        ft = y % 5
        cur = flat[y]
        if ft == 0:
            enc = cur
        elif ft == 1:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - left) & 0xFF
        elif ft == 2:
            enc = (cur - prev) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            enc = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (cur[x] - pr) & 0xFF
        raw += bytes([ft]) + bytes(enc.astype(np.uint8))
        prev = cur

    def chunk(typ, body):
        return (_s.pack(">I", len(body)) + typ + body
                + _s.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    blob = (_PNG_SIG
            + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    assert np.array_equal(parse_png(blob), img)

    df = spark.createDataFrame(
        [(1, bytearray(blob))], "item_id long, payload binary"
    )
    r = png_features(df).collect()[0]
    assert (r["width"], r["height"], r["n_channels"]) == (4, 6, 3)
    sums = img.reshape(-1, 3).astype(int).sum(axis=0)
    assert r["mean_g_e2"] == round(sums[1] * 100 / 24)


def test_ahash_matches_numpy_reference_and_dedups(spark):
    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import (
        average_hash_array,
        image_ahash,
        make_bmp,
    )

    def img(seed, h=10, w=8):
        # vary SPATIAL structure with the seed — aHash is deliberately
        # invariant to constant brightness shifts
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        return (
            (y * (13 + 11 * seed) + x * (3 + 7 * seed) + c * 5) % 256
        ).astype("uint8")

    imgs = {1: img(1), 2: img(2), 3: img(1)}  # 3 duplicates 1
    rows = [(k, bytearray(make_bmp(v))) for k, v in imgs.items()]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    got = {r["item_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert got[1] == got[3] and got[1] != got[2]
    for k, v in imgs.items():
        hv = average_hash_array(v)
        signed = hv - (1 << 64) if hv >= (1 << 63) else hv
        assert got[k] == signed


def test_ahash_near_duplicate_small_hamming(spark):
    """One flipped pixel block changes few aHash bits; an unrelated image
    differs in many."""
    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import average_hash_array

    def img(seed, h=16, w=16):
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        return ((seed * 11 + y * 17 + x * 5 + c * 3) % 256).astype("uint8")

    a = img(1)
    near = a.copy()
    near[0:2, 0:2, :] = 255
    far = img(9)
    ha, hn, hf = (average_hash_array(v) for v in (a, near, far))
    ham = lambda p, q: bin(p ^ q).count("1")  # noqa: E731
    assert ham(ha, hn) <= 6
    assert ham(ha, hf) > 10


def test_wav_spectral_pure_tone(spark):
    """A 1 kHz pure tone: dominant bin and centroid land at 1000 Hz
    (bin-exact for n a multiple of rate/freq), bandwidth near 0."""
    import numpy as np

    from smartpy_arc_spark.multimodal.codecs import (
        make_wav,
        wav_spectral_features,
    )

    rate, n, freq = 16000, 1600, 1000.0
    i = np.arange(n)
    tone = (10000 * np.sin(2 * np.pi * freq * i / rate)).astype("int16")
    noiseish = ((i * 7919) % 65536 - 32768).astype("int16")
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(tone, rate=rate))),
         (2, bytearray(make_wav(noiseish, rate=rate)))],
        "item_id long, payload binary",
    )
    got = {r["item_id"]: r for r in wav_spectral_features(df).collect()}
    assert got[1]["dominant_hz_e2"] == 100000        # exactly 1000.00 Hz
    assert abs(got[1]["centroid_hz_e2"] - 100000) < 2000   # leakage slack
    assert got[1]["bandwidth_hz_e2"] < got[2]["bandwidth_hz_e2"]
    # broadband signal: centroid far from any single tone, wide bandwidth
    assert got[2]["bandwidth_hz_e2"] > 100000


def test_frame_sample_real_path_decodes_gif(spark):
    import numpy as np

    from smartpy_arc_spark.multimodal.binary import frame_sample
    from smartpy_arc_spark.multimodal.codecs import parse_png
    from smartpy_arc_spark.multimodal.gif import make_gif

    frames = [np.full((8, 8, 3), (i * 30, 10, 200 - i * 20), np.uint8)
              for i in range(6)]
    media = spark.createDataFrame(
        [(1, bytearray(make_gif(frames))), (2, bytearray(b"not video"))],
        "item_id long, payload binary",
    )
    out = frame_sample(media, n_frames=3, stub=False).collect()
    got = sorted((r.item_id, r.frame_idx) for r in out)
    assert got == [(1, 0), (1, 1), (1, 2)]  # junk payload skipped
    first = next(r for r in out if r.frame_idx == 0)
    img = parse_png(bytes(first.frame))
    assert (img == frames[0]).all()  # evenly spaced: pick 0, 2, 4


def test_decode_image_meta_sniffs_gif(spark):
    import numpy as np

    from smartpy_arc_spark.multimodal.binary import decode_image_meta
    from smartpy_arc_spark.multimodal.gif import make_gif

    img = np.full((5, 11, 3), (9, 8, 7), np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(make_gif(img)))], "item_id long, payload binary"
    )
    r = decode_image_meta(media, stub=False).collect()[0]
    assert r.format == "gif" and (r.width, r.height) == (11, 5)


def test_extract_features_real_path(spark):
    """stub=False: real decode-based classical features — same constant
    image in two different containers yields the SAME feature vector."""
    import numpy as np

    from smartpy_arc_spark.multimodal.binary import extract_features
    from smartpy_arc_spark.multimodal.codecs import make_png
    from smartpy_arc_spark.multimodal.gif import make_gif

    img = np.full((10, 20, 3), (40, 90, 200), np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(make_png(img))), (2, bytearray(make_gif(img))),
         (3, bytearray(b"junk"))],
        "item_id long, payload binary",
    )
    out = {r.item_id: r.features
           for r in extract_features(media, dim=10, stub=False).collect()}
    assert out[1] is not None and len(out[1]) == 10
    assert out[1] == out[2]  # lossless containers, identical pixels
    assert abs(out[1][0] - 40 / 255) < 1e-6  # mean_r of constant image
    assert out[3] is None


def test_frame_sample_real_path_decodes_avi(spark):
    """frame_sample(stub=False) sniffs RIFF/AVI payloads and re-encodes
    evenly-spaced real frames as lossless PNG."""
    import pandas as pd

    from smartpy_arc_spark.multimodal.avi import make_avi
    from smartpy_arc_spark.multimodal.binary import frame_sample
    from smartpy_arc_spark.multimodal.codecs import parse_png

    frames = [np.full((3, 5, 3), (10 * i, 20, 30), dtype=np.uint8)
              for i in range(4)]
    pdf = pd.DataFrame({"item_id": [1], "payload": [make_avi(frames)]})
    out = frame_sample(spark.createDataFrame(pdf), n_frames=2,
                       stub=False).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in out] == [0, 1]
    # picks = {0, 4//2=2} → frame colors r=0 and r=20
    got = [int(parse_png(bytes(r["frame"]))[0, 0, 0]) for r in out]
    assert got == [0, 20]


# ------------------------------------------------- the shared boundary

def _img(seed, h=6, w=5):
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    return ((y * (13 + 11 * seed) + x * (3 + 7 * seed) + c * 5) % 256).astype("uint8")


def _media(spark, payloads):
    """One-partition frame (so every row shares one Arrow batch) of
    ``(item_id, payload)`` with a NULL payload appended as id 99."""
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads, 1)] + [(99, None)]
    return spark.createDataFrame(rows, "item_id long, payload binary").coalesce(1)


def test_null_payload_gives_a_null_feature_row(spark):
    """A NULL payload yields its row with NULL features instead of failing
    the job, and a NULL in the batch leaves the other rows' 64-bit hashes
    bit-exact (a float64 round trip would round them)."""
    imgs = [_img(s, 10, 8) for s in range(1, 5)]
    media = _media(spark, [codecs.make_bmp(v) for v in imgs])

    feats = {r["item_id"]: r for r in codecs.bmp_features(media).collect()}
    assert set(feats) == {1, 2, 3, 4, 99}
    assert all(v is None for k, v in feats[99].asDict().items() if k != "item_id")
    assert (feats[1]["width"], feats[1]["height"]) == (8, 10)

    want = {}
    for k, v in enumerate(imgs, 1):
        hv = codecs.average_hash_array(v)
        want[k] = hv - (1 << 64) if hv >= (1 << 63) else hv
    want[99] = None
    assert any(int(float(h)) != h for h in want.values() if h is not None)
    got = {r["item_id"]: r["ahash"] for r in codecs.image_ahash(media).collect()}
    assert got == want


def _payload(kind):
    from smartpy_arc_spark.multimodal.avi import make_avi
    from smartpy_arc_spark.multimodal.gif import make_gif
    from smartpy_arc_spark.multimodal.jpeg import make_jpeg

    tone = (3000 * np.sin(np.arange(400) / 7)).astype("int16")
    return {
        "wav": codecs.make_wav(tone), "bmp": codecs.make_bmp(_img(1)),
        "png": codecs.make_png(_img(2)), "jpeg": make_jpeg(_img(3)),
        "gif": make_gif([_img(4) // 32 * 32] * 2),
        "avi": make_avi([_img(5), _img(6)], fps=7),
    }[kind]


# operator, payload container, output schema (every field nullable)
_OPERATORS = [
    (codecs.wav_features, "wav",
     "struct<item_id:bigint,sample_rate:int,n_samples:bigint,"
     "duration_ms:bigint,rms_e4:bigint,peak:int>"),
    (codecs.wav_spectral_features, "wav",
     "struct<item_id:bigint,sample_rate:int,n_samples:bigint,"
     "dominant_hz_e2:bigint,centroid_hz_e2:bigint,bandwidth_hz_e2:bigint>"),
    (codecs.bmp_features, "bmp",
     "struct<item_id:bigint,width:int,height:int,mean_r_e2:bigint,"
     "mean_g_e2:bigint,mean_b_e2:bigint>"),
    (codecs.png_features, "png",
     "struct<item_id:bigint,width:int,height:int,n_channels:int,"
     "mean_r_e2:bigint,mean_g_e2:bigint,mean_b_e2:bigint>"),
    (codecs.jpeg_features, "jpeg",
     "struct<item_id:bigint,width:int,height:int,n_channels:int,"
     "mean_r_e2:bigint,mean_g_e2:bigint,mean_b_e2:bigint>"),
    (codecs.gif_features, "gif",
     "struct<item_id:bigint,width:int,height:int,n_frames:int,"
     "mean_r_e2:bigint,mean_g_e2:bigint,mean_b_e2:bigint>"),
    (codecs.avi_features, "avi",
     "struct<item_id:bigint,width:int,height:int,n_frames:int,fps:int,"
     "mean_r_e2:bigint,mean_g_e2:bigint,mean_b_e2:bigint>"),
    (codecs.image_ahash, "bmp", "struct<item_id:bigint,ahash:bigint>"),
    (binary.decode_image_meta, "png",
     "struct<item_id:bigint,n_bytes:int,width:int,height:int,format:string>"),
    (binary.extract_features, "png",
     "struct<item_id:bigint,features:array<float>>"),
    (binary.resize_image, "png",
     "struct<item_id:bigint,payload:binary,width:int,height:int>"),
]


@pytest.mark.parametrize(
    "op,kind,schema", _OPERATORS, ids=[op.__name__ for op, _, _ in _OPERATORS]
)
def test_per_payload_operator_schema_and_null_row(spark, op, kind, schema):
    out = op(_media(spark, [_payload(kind)]))
    assert out.schema.simpleString() == schema
    assert all(f.nullable for f in out.schema.fields)
    rows = {r["item_id"]: r.asDict() for r in out.collect()}
    assert set(rows) == {1, 99}
    assert all(v is not None for v in rows[1].values())
    null_row = {k: v for k, v in rows[99].items() if k != "item_id"}
    if op is binary.resize_image:  # the target size fills every row
        assert null_row == {"payload": None, "width": 64, "height": 64}
    else:
        assert set(null_row.values()) == {None}


def test_id_col_is_kept_by_codecs_and_named_item_id_by_binary(spark):
    media = _media(spark, [codecs.make_png(_img(1))]).withColumnRenamed(
        "item_id", "k"
    )
    assert codecs.png_features(media, id_col="k").columns[0] == "k"
    for op in (binary.decode_image_meta, binary.extract_features,
               binary.resize_image):
        assert op(media, id_col="k").columns[0] == "item_id"


def test_one_boundary_in_multimodal():
    """Every one-row-per-item media operator goes through
    ``codecs._per_payload``: one ``mapInPandas`` there, one in
    ``frame_sample`` (several rows per item)."""
    import inspect

    assert inspect.getsource(codecs).count(".mapInPandas(") == 1
    assert inspect.getsource(binary).count(".mapInPandas(") == 1
    assert ".mapInPandas(" in inspect.getsource(binary.frame_sample)


def test_channel_means_read_gray_and_ignore_alpha():
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    level = round(int(gray.sum()) * 100 / 12)
    assert codecs._channel_means_e2([gray]) == (level, level, level)
    rgba = np.concatenate([_img(1), np.full((6, 5, 1), 255, np.uint8)], axis=2)
    assert codecs._channel_means_e2([rgba]) == codecs._channel_means_e2([_img(1)])
    assert codecs._channel_means_e2([np.zeros((0, 3, 3), np.uint8)]) == (0, 0, 0)


def _means_e2(frames):
    px = np.concatenate([f.reshape(-1, 3) for f in frames]).astype(np.int64)
    return tuple(round(int(s) * 100 / len(px)) for s in px.sum(axis=0))


def test_jpeg_features_roundtrip(spark):
    from smartpy_arc_spark.multimodal.jpeg import make_jpeg, parse_jpeg

    imgs = {1: _img(1, 9, 13), 2: _img(2, 16, 8)}
    blobs = {k: make_jpeg(v, subsample=k == 2) for k, v in imgs.items()}
    df = spark.createDataFrame(
        [(k, bytearray(b)) for k, b in blobs.items()], "item_id long, payload binary"
    )
    got = {r["item_id"]: r for r in codecs.jpeg_features(df).collect()}
    for k, v in imgs.items():
        r = got[k]
        assert (r["width"], r["height"], r["n_channels"]) == (v.shape[1], v.shape[0], 3)
        means = (r["mean_r_e2"], r["mean_g_e2"], r["mean_b_e2"])
        assert means == _means_e2([parse_jpeg(blobs[k])])


def test_gif_features_roundtrip(spark):
    from smartpy_arc_spark.multimodal.gif import make_gif

    frames = [np.full((7, 9, 3), (i * 50, 255 - i * 60, 7 + i), np.uint8)
              for i in range(3)]
    df = spark.createDataFrame(
        [(1, bytearray(make_gif(frames)))], "item_id long, payload binary"
    )
    r = codecs.gif_features(df).collect()[0]
    assert (r["width"], r["height"], r["n_frames"]) == (9, 7, 3)
    assert (r["mean_r_e2"], r["mean_g_e2"], r["mean_b_e2"]) == _means_e2(frames)


def test_avi_features_roundtrip(spark):
    from smartpy_arc_spark.multimodal.avi import make_avi, parse_avi

    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (5, 7, 3), dtype=np.uint8) for _ in range(4)]
    dib = make_avi(frames, fps=12)
    mjpg = make_avi(frames[:2], fps=3, codec="MJPG")
    df = spark.createDataFrame(
        [(1, bytearray(dib)), (2, bytearray(mjpg))], "item_id long, payload binary"
    )
    got = {r["item_id"]: r for r in codecs.avi_features(df).collect()}
    for k, blob, n, fps in ((1, dib, 4, 12), (2, mjpg, 2, 3)):
        r = got[k]
        assert (r["width"], r["height"], r["n_frames"], r["fps"]) == (7, 5, n, fps)
        means = (r["mean_r_e2"], r["mean_g_e2"], r["mean_b_e2"])
        assert means == _means_e2(parse_avi(blob)[0])
    assert _means_e2(parse_avi(dib)[0]) == _means_e2(frames)  # DIB is lossless


def test_rgba_png_sniffs_as_its_rgb_part(spark):
    """The sniffer hands every operator an RGB image: an RGBA PNG gives the
    features and the resized pixels of its RGB channels."""
    rgb = _img(3, 7, 5)
    rgba = np.concatenate([rgb, np.full((7, 5, 1), 128, np.uint8)], axis=2)

    def png_rgba(px):
        import struct
        import zlib

        h, w, _ = px.shape

        def chunk(t, b):
            crc = zlib.crc32(t + b) & 0xFFFFFFFF
            return struct.pack(">I", len(b)) + t + b + struct.pack(">I", crc)

        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        return (codecs._PNG_SIG
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    assert codecs.parse_png(png_rgba(rgba)).shape == (7, 5, 4)
    df = spark.createDataFrame(
        [(1, bytearray(codecs.make_png(rgb))), (2, bytearray(png_rgba(rgba)))],
        "item_id long, payload binary",
    )
    feats = {r.item_id: r.features
             for r in binary.extract_features(df, dim=12, stub=False).collect()}
    assert feats[2] == feats[1]
    sized = {r.item_id: codecs.parse_png(bytes(r.payload))
             for r in binary.resize_image(df, width=3, height=4, stub=False).collect()}
    assert np.array_equal(sized[2], sized[1])
