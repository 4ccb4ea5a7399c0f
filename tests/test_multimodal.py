"""Multimodal tests: REAL BMP/WAV codec round-trips through mapInPandas,
plus the decode_ok flagging contract for corrupt/unsupported content."""

from __future__ import annotations

import numpy as np
import pytest

from pulsar_lunar_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    image_features,
)


# -- pure codec round-trips (no Spark) --------------------------------------


def test_bmp_roundtrip_gradient():
    # non-constant pixels: mean must come from the actual pixel payload
    px = np.arange(7 * 5, dtype=np.uint8).reshape(5, 7)  # w=7 -> padded rows
    content = encode_bmp(px)
    w, h, luma = decode_bmp(content)
    assert (w, h) == (7, 5)
    assert luma == pytest.approx(px.mean())
    # file size: 54 headers + padded rows
    assert len(content) == 54 + (7 * 3 + 3) // 4 * 4 * 5


def test_bmp_rejects_corrupt():
    with pytest.raises(ValueError):
        decode_bmp(b"not a bitmap at all, definitely")


def test_wav_roundtrip_known_rms():
    samples = np.array([100, -100] * 50, dtype=np.int16)  # square wave
    content = encode_wav(samples, rate=1000)
    dur, rms = decode_wav(content)
    assert dur == 100  # 100 frames at 1 kHz
    assert rms == pytest.approx(100.0)
    assert len(content) == 44 + 2 * 100


def test_wav_rejects_corrupt():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")


# -- Spark-side contracts ---------------------------------------------------


def _media_df(spark):
    bmp = encode_bmp(np.full((4, 6), 200, dtype=np.uint8))
    wav = encode_wav(np.array([50, -50] * 25, dtype=np.int16), rate=1000)
    rows = [
        ("img1", "image", bmp, "bmp", None, None, None),
        ("img2", "image", b"\x89PNG" + bytes(range(100)), "png", None, None, None),
        ("img3", "image", b"BM\x00\x01", "bmp", None, None, None),  # corrupt bmp
        ("aud1", "audio", wav, "wav", None, None, None),
        ("aud2", "audio", b"\x00" * 64, "wav", None, None, None),  # corrupt wav
        ("vid1", "video", bytes(range(128)), "mp4", None, None, 3500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features_real_decode(spark):
    rows = {r["media_id"]: r for r in image_features(_media_df(spark)).collect()}
    assert set(rows) == {"img1", "img2", "img3"}
    r1 = rows["img1"]
    assert r1["decode_ok"] and (r1["width"], r1["height"]) == (6, 4)
    assert r1["mean_luma"] == pytest.approx(200.0)
    # png needs PIL -> flagged, not crashed; corrupt bmp -> flagged too
    assert rows["img2"]["decode_ok"] is False
    assert rows["img3"]["decode_ok"] is False


def test_audio_features_real_decode(spark):
    rows = {r["media_id"]: r for r in audio_features(_media_df(spark)).collect()}
    r1 = rows["aud1"]
    assert r1["decode_ok"] and r1["duration_ms"] == 50
    assert r1["rms"] == pytest.approx(50.0)
    assert rows["aud2"]["decode_ok"] is False  # zeros: no RIFF magic


def test_bmp_pixel_roundtrip_and_nn_resize():
    """decode_bmp_pixels must invert encode_bmp exactly (orientation
    included), and the NN resample must pick the exact source pixels."""
    import numpy as np
    from pulsar_lunar_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
    )

    src = (np.add.outer(np.arange(5), np.arange(7)) * 11 % 256).astype(np.uint8)
    assert (decode_bmp_pixels(encode_bmp(src)) == src).all()
    # NN indices for 5x7 -> 2x2: rows (0*5)//2=0,(1*5)//2=2; cols 0,3
    yi = (np.arange(2) * 5) // 2
    xi = (np.arange(2) * 7) // 2
    thumb = src[np.ix_(yi, xi)]
    assert (decode_bmp_pixels(encode_bmp(thumb)) == src[[0, 2]][:, [0, 3]]).all()


def test_png_roundtrip_every_filter():
    """decode(encode(x)) must be pixel-exact for each scanline filter type
    and for the cycling default (which exercises all five in one image)."""
    from pulsar_lunar_spark.operators.multimodal import encode_png, decode_png_pixels

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (13, 29), dtype=np.uint8)
    for f in range(5):
        assert (decode_png_pixels(encode_png(px, filters=[f] * 13)) == px).all(), f
    assert (decode_png_pixels(encode_png(px)) == px).all()


def test_png_rejects_corrupt_and_unsupported():
    from pulsar_lunar_spark.operators.multimodal import decode_png, encode_png
    import struct as _struct
    import zlib as _zlib

    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\x00 nope")
    # 16-bit depth: honest NotImplementedError (PIL territory)
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    chunk = _struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + _struct.pack(
        ">I", _zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    idat = _zlib.compress(b"\x00" * 10)
    chunk2 = _struct.pack(">I", len(idat)) + b"IDAT" + idat + _struct.pack(
        ">I", _zlib.crc32(b"IDAT" + idat) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk + chunk2)


def test_jpeg_roundtrip_bounds():
    """Baseline JPEG is lossy but bounded: constant-gray within +/-1 (DC
    quantization), smooth gradients within a small mean error, and
    dimensions (incl. non-multiple-of-8 with edge padding) exact."""
    from pulsar_lunar_spark.operators.jpeg import encode_jpeg, decode_jpeg_pixels

    for g in (0, 7, 128, 255):
        px = np.full((24, 33), g, np.uint8)
        dec = decode_jpeg_pixels(encode_jpeg(px))
        assert dec.shape == (24, 33)
        assert np.abs(dec.astype(int) - g).max() <= 1, g
    x = np.linspace(0, 255, 64)
    px = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(px))
    assert np.abs(dec.astype(int) - px.astype(int)).mean() < 2.0
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (5, 9), np.uint8)
    assert decode_jpeg_pixels(encode_jpeg(px)).shape == (5, 9)


def test_jpeg_rejects_corrupt_and_nonbaseline():
    from pulsar_lunar_spark.operators.jpeg import decode_jpeg
    import struct as _struct

    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8nonsense")
    # progressive SOF2 -> honest NotImplementedError
    sof2 = _struct.pack(">HH", 0xFFC2, 11) + _struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0])
    with pytest.raises(NotImplementedError):
        decode_jpeg(b"\xff\xd8" + sof2 + b"\xff\xd9\x00\x00")


def test_jpeg_color_roundtrip_bounds():
    """4:4:4 YCbCr color: constant colors within +/-2 (DC quantization +
    color-space rounding), smooth gradients within small mean error,
    odd dimensions exact."""
    from pulsar_lunar_spark.operators.jpeg import encode_jpeg, decode_jpeg_pixels

    for rgb in ((200, 30, 90), (0, 0, 0), (255, 255, 255), (12, 200, 64)):
        px = np.zeros((16, 24, 3), np.uint8)
        px[:] = rgb
        dec = decode_jpeg_pixels(encode_jpeg(px))
        assert dec.shape == (16, 24, 3)
        assert np.abs(dec.astype(int) - np.array(rgb)).max() <= 2, rgb
    x = np.linspace(0, 255, 48)
    px = np.stack(
        [np.add.outer(x, x) / 2, np.tile(x, (48, 1)), np.tile(x[:, None], (1, 48))],
        axis=-1,
    ).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(px))
    assert np.abs(dec.astype(int) - px.astype(int)).mean() < 3.0
    rng = np.random.default_rng(13)
    assert decode_jpeg_pixels(encode_jpeg(rng.integers(0, 256, (5, 9, 3), np.uint8))).shape == (5, 9, 3)


def test_png_color_roundtrip_every_filter():
    """RGB (color type 2) PNGs must round-trip pixel-exact for each filter
    type — bpp-aware left offsets on both the filter and unfilter side."""
    from pulsar_lunar_spark.operators.multimodal import encode_png, decode_png_pixels

    rng = np.random.default_rng(17)
    px = rng.integers(0, 256, (11, 17, 3), dtype=np.uint8)
    for f in range(5):
        assert (decode_png_pixels(encode_png(px, filters=[f] * 11)) == px).all(), f
    assert (decode_png_pixels(encode_png(px)) == px).all()


def test_mulaw_companding_bound_and_wav():
    """G.711 mu-law: round-trip error within the segment-step bound
    (|err| <= (|x|+BIAS)/16 + 1), zero maps to zero, and a mu-law WAV
    decodes through the normal RIFF walk."""
    from pulsar_lunar_spark.operators.multimodal import (
        decode_wav, encode_wav_mulaw, mulaw_decode, mulaw_encode,
    )

    rng = np.random.default_rng(31)
    x = rng.integers(-32000, 32000, 50000).astype(np.int16)
    y = mulaw_decode(mulaw_encode(x)).astype(np.int64)
    err = np.abs(y - x.astype(np.int64))
    assert (err <= (np.abs(x.astype(np.int64)) + 132) / 16 + 1).all()
    assert mulaw_decode(mulaw_encode(np.array([0])))[0] == 0
    s = np.full(100, 500, np.int16)
    s[1::2] *= -1
    dur, rms = decode_wav(encode_wav_mulaw(s, rate=1000))
    assert dur == 100
    assert rms == 492.0  # the expanded magnitude of 500, exactly


def test_avi_roundtrip_pixel_exact():
    """encode_avi -> decode_avi recovers every frame bit-exactly,
    including odd widths (row padding) and bottom-up re-flip."""
    import numpy as np

    from pulsar_lunar_spark.operators.multimodal import decode_avi, encode_avi

    y, x = np.mgrid[0:5, 0:7]
    frames = np.stack([(x + y + 3 * f) % 256 for f in range(4)]).astype(np.uint8)
    w, h, usec, out = decode_avi(encode_avi(frames, usec_per_frame=500_000))
    assert (w, h, usec, len(out)) == (7, 5, 500_000, 4)
    for f in range(4):
        assert np.array_equal(out[f], frames[f])
    odd = np.arange(9, dtype=np.uint8).reshape(1, 3, 3)
    w2, h2, u2, o2 = decode_avi(encode_avi(odd, usec_per_frame=40_000))
    assert (w2, h2, u2) == (3, 3, 40_000) and np.array_equal(o2[0], odd[0])


def test_avi_rejects_corrupt_and_compressed():
    import struct

    import numpy as np
    import pytest

    from pulsar_lunar_spark.operators.multimodal import decode_avi, encode_avi

    with pytest.raises(ValueError):
        decode_avi(b"not an avi at all")
    avi = bytearray(encode_avi(np.zeros((1, 2, 2), dtype=np.uint8)))
    pos = bytes(avi).find(b"DIB ")
    avi[pos : pos + 4] = b"H264"
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(avi))


def test_sample_avi_frames_fanout(spark):
    """1 AVI row -> N sampled-frame rows with decoded dims + luma sums;
    a non-AVI payload yields a single decode_ok=false row, not a crash."""
    import numpy as np
    import pandas as pd

    from pulsar_lunar_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_avi,
        sample_avi_frames,
    )

    frames = np.stack([np.full((2, 2), f, dtype=np.uint8) for f in range(5)])
    rows = [
        ("v1", "video", encode_avi(frames, usec_per_frame=500_000), "avi",
         None, None, 2500),
        ("v2", "video", b"garbage-bytes", "avi", None, None, 10),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields]),
        schema=MEDIA_SCHEMA,
    )
    out = {(r["media_id"], r["frame_index"]): r for r in sample_avi_frames(df).collect()}
    # every_ms=1000 at 2 fps -> frames 0, 2, 4
    assert [k for k in out if k[0] == "v1"] == [("v1", 0), ("v1", 1), ("v1", 2)]
    assert [out[("v1", j)]["luma_sum"] for j in range(3)] == [0, 8, 16]
    assert out[("v1", 1)]["frame_ms"] == 1000
    assert out[("v2", -1)]["decode_ok"] is False


def test_video_frame_dhash_brute_force(spark):
    """video_frame_features' per-frame dHash equals the numpy brute-force
    replay (resample -> horizontal bits -> band packing) for every frame;
    a zero-length/corrupt clip emits exactly one decode_ok=false sentinel
    row."""
    import pandas as pd

    from pulsar_lunar_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_avi,
        video_frame_features,
    )

    rng = np.random.RandomState(7)
    frames = rng.randint(0, 255, size=(3, 9, 13), dtype=np.uint8)
    rows = [
        ("v1", "video", encode_avi(frames, usec_per_frame=500_000), "avi",
         None, None, 1500),
        ("v2", "video", b"garbage-bytes", "avi", None, None, 10),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields]),
        schema=MEDIA_SCHEMA,
    )
    got = {
        (r["media_id"], r["frame_index"]): r
        for r in video_frame_features(df).collect()
    }

    def brute(src):
        h, w = src.shape
        grid = src[
            np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)
        ].astype(np.int64)
        bits = (grid[:, :-1] < grid[:, 1:]).astype(np.int64)
        return [
            int((bits[2 * k : 2 * k + 2].reshape(-1) << np.arange(16)).sum())
            for k in range(4)
        ]

    for t in range(3):
        r = got[("v1", t)]
        assert r["n_frames"] == 3 and r["decode_ok"]
        assert [r["b0"], r["b1"], r["b2"], r["b3"]] == brute(frames[t])
    assert got[("v2", -1)]["decode_ok"] is False


def test_video_neardup_planted_variants_pair(spark):
    """The planted trimmed (first shot dropped) and brightness-shifted
    variants each pair with their base clip at match_ppm = 1000000 —
    trim robustness comes from signature-SET containment, brightness
    robustness from the dHash neighbor comparisons."""
    from pulsar_lunar_spark.queries import all_queries

    res = all_queries()["q_video_neardup"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in res}
    # doc_id = 2: % 10 == 2 -> trimmed variant m2t; doc_id = 5: % 10 == 5
    # -> brightness variant m5v (both in the video lane doc_id % 3 == 2)
    assert ("m2", "m2t") in pairs
    assert pairs[("m2", "m2t")]["match_ppm"] == 1_000_000
    assert ("m5", "m5v") in pairs
    assert pairs[("m5", "m5v")]["match_ppm"] == 1_000_000
    # the trimmed side's signature set is a strict subset
    assert (
        pairs[("m2", "m2t")]["n_sigs_b"]
        <= pairs[("m2", "m2t")]["n_sigs_a"]
    )


def test_video_frame_features_matches_single_purpose_ops(spark):
    """The fused per-frame feature stage (one decode pass) carries
    frame_deltas' exact deltas; its dHash bands are pinned by
    test_video_frame_dhash_brute_force."""
    import pandas as pd

    from pulsar_lunar_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_avi,
        frame_deltas,
        video_frame_features,
    )

    rng = np.random.RandomState(11)
    rows = []
    for i in range(3):
        frames = rng.randint(0, 255, size=(2 + i, 5 + i, 7), dtype=np.uint8)
        rows.append(
            (f"v{i}", "video", encode_avi(frames, usec_per_frame=500_000),
             "avi", None, None, len(frames) * 500)
        )
    rows.append(("bad", "video", b"nope", "avi", None, None, 1))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields]),
        schema=MEDIA_SCHEMA,
    )
    fused = {
        (r["media_id"], r["frame_index"]): r
        for r in video_frame_features(df).collect()
    }
    for r in frame_deltas(df).collect():
        if r["decode_ok"]:
            f = fused[(r["media_id"], r["frame_index"])]
            assert f["delta_sum"] == r["delta_sum"]
            assert (f["width"], f["height"]) == (r["width"], r["height"])
    for i in range(3):
        assert [fused[(f"v{i}", t)]["n_frames"] for t in range(2 + i)] == [2 + i] * (2 + i)
    # frame 0 carries the no-predecessor sentinel
    assert fused[("v0", 0)]["delta_sum"] == -1
    assert fused[("bad", -1)]["decode_ok"] is False
