"""Multimodal plumbing tests: schema/batch shapes are real, decode kernels
stubbed behind fake=True (no image/audio libs in this container)."""

from __future__ import annotations

import numpy as np
import pytest

from xenoeye_spark.datapipe.multimodal import (
    decode_and_featurize,
    make_fake_media_df,
    resize_images,
    sample_frames,
)


def test_decode_and_featurize_shapes(spark):
    media = make_fake_media_df(spark, n=12)
    out = decode_and_featurize(media, fake=True, feat_dim=8).collect()
    assert len(out) == 12
    for r in out:
        assert 16 <= r["width"] <= 64 and 16 <= r["height"] <= 64
        assert 0.0 <= r["mean_luma"] <= 255.0
        assert len(r["feature"]) == 8


def test_decode_deterministic(spark):
    media = make_fake_media_df(spark, n=4)
    a = {r["media_id"]: r["mean_luma"]
         for r in decode_and_featurize(media, fake=True).collect()}
    b = {r["media_id"]: r["mean_luma"]
         for r in decode_and_featurize(media.repartition(3), fake=True).collect()}
    assert a == b  # partitioning must not change results


def test_decode_stub_raises_without_fake(spark):
    media = make_fake_media_df(spark, n=1)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_and_featurize(media, fake=False).collect()


def test_resize_images(spark):
    media = make_fake_media_df(spark, n=3)
    out = resize_images(media, out_w=8, out_h=6, fake=True).collect()
    for r in out:
        assert r["width"] == 8 and r["height"] == 6
        px = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8)
        assert px.shape[0] == 8 * 6 * 3


def test_sample_frames(spark):
    media = make_fake_media_df(spark, n=2)
    out = sample_frames(media, every_n=10, n_frames=30, fake=True).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 10, 20] for v in by_id.values())
    # different frames of the same media differ (per-frame decode)
    lumas = {(r["media_id"], r["frame_idx"]): r["mean_luma"] for r in out}
    assert lumas[(0, 0)] != lumas[(0, 10)]


# --------------------------------------------------------------------------
# r6: real pure-numpy decoders for uncompressed containers
# --------------------------------------------------------------------------

def test_ppm_roundtrip_and_comments():
    from xenoeye_spark.datapipe.codecs import decode_ppm, encode_ppm

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # hand-built header with comments and odd whitespace
    raw = b"P6 # a comment\n  5\t7 # another\n255\n" + img.tobytes()
    assert (decode_ppm(raw) == img).all()
    # P5 grayscale expands to 3 identical channels
    gray = rng.randint(0, 256, size=(4, 6), dtype=np.uint8)
    p5 = b"P5\n6 4\n255\n" + gray.tobytes()
    out = decode_ppm(p5)
    assert out.shape == (4, 6, 3)
    assert (out[..., 0] == gray).all() and (out[..., 2] == gray).all()
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\0" * 6)
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n5 7\n255\n" + img.tobytes()[:-1])


def test_bmp_roundtrip_padding_and_topdown():
    import struct

    from xenoeye_spark.datapipe.codecs import decode_bmp, encode_bmp

    rng = np.random.RandomState(4)
    # width 3 -> 9-byte rows padded to 12: exercises the stride path
    img = rng.randint(0, 256, size=(5, 3, 3), dtype=np.uint8)
    data = encode_bmp(img)
    assert (decode_bmp(data) == img).all()
    # top-down variant: negate biHeight, un-flip the stored raster
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = img[:, :, ::-1].reshape(h, w * 3)
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + raster.size, 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0,
                           raster.size, 0, 0, 0, 0)
    assert (decode_bmp(file_hdr + info_hdr + raster.tobytes()) == img).all()
    with pytest.raises(ValueError, match="unsupported BMP"):
        bad = bytearray(data)
        bad[28] = 8           # biBitCount = 8
        decode_bmp(bytes(bad))


def test_wav_roundtrip_8bit_and_extra_chunks():
    import struct

    from xenoeye_spark.datapipe.codecs import decode_wav, encode_wav

    rng = np.random.RandomState(5)
    stereo = rng.randint(-30000, 30000, size=(100, 2)).astype(np.int16)
    samples, rate = decode_wav(encode_wav(stereo, 44_100))
    assert rate == 44_100 and (samples == stereo).all()
    # 8-bit mono with a LIST chunk before data: chunk walk must skip it
    pcm8 = rng.randint(0, 256, size=37, dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
    dat = b"data" + struct.pack("<I", len(pcm8)) + pcm8.tobytes() + b"\0"
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + lst + dat
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    samples, rate = decode_wav(raw)
    assert rate == 8000
    assert (samples[:, 0] == pcm8.astype(np.int32) - 128).all()
    with pytest.raises(ValueError, match="format code"):
        bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000, 1, 8)
        decode_wav(b"RIFF" + struct.pack("<I", 20) + b"WAVE" + b"fmt "
                   + struct.pack("<I", len(bad_fmt)) + bad_fmt
                   + b"data" + struct.pack("<I", 0))


def test_pnm_comment_delimits_pending_token():
    """r6 review fix: '#' right after a header token (legal netpbm —
    a comment may appear anywhere whitespace may) must flush the
    pending digits; the raster must start right after the comment's
    newline, not one byte into pixel data."""
    from xenoeye_spark.datapipe.codecs import decode_ppm

    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    raw = b"P6\n2 2 255#c\n" + img.tobytes()
    assert (decode_ppm(raw) == img).all()
    # comment between tokens still works when cur is empty
    raw2 = b"P6\n2#x\n 2 255\n" + img.tobytes()
    assert (decode_ppm(raw2) == img).all()


def test_wav_corrupt_headers_raise_diagnostics():
    """r6 review fix: 0-channel fmt and over-declared chunk sizes get
    the module's ValueError family, not ZeroDivisionError / silent
    short reads."""
    import struct

    from xenoeye_spark.datapipe.codecs import decode_wav, encode_wav

    good = encode_wav(np.zeros((10, 1), dtype=np.int16), 8000)

    zero_ch = bytearray(good)
    struct.pack_into("<H", zero_ch, 22, 0)     # fmt.nChannels = 0
    with pytest.raises(ValueError, match="channel count"):
        decode_wav(bytes(zero_ch))

    with pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav(good[:-4])                  # data shorter than declared


def test_decode_and_featurize_real_ppm_bmp(spark):
    """The full mapInPandas path decodes REAL planted PPM and BMP bytes
    (no fake flag) and reproduces closed-form pixel stats."""
    from xenoeye_spark.datapipe.codecs import encode_bmp, encode_ppm

    rows = []
    expect = {}
    for i in range(8):
        w, h = 4 + i % 3, 3 + i % 2
        yy, xx, cc = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        img = ((i + yy * w + xx + cc * 7) % 256).astype(np.uint8)
        content = encode_ppm(img) if i % 2 == 0 else encode_bmp(img)
        rows.append((i, bytearray(content), ("image/raw", w, h, 3)))
        expect[i] = (
            w, h,
            0.299 * img[..., 0].mean() + 0.587 * img[..., 1].mean()
            + 0.114 * img[..., 2].mean(),
        )
    from xenoeye_spark.datapipe.multimodal import MEDIA_SCHEMA
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert set(got) == set(expect)
    for i, (w, h, luma) in expect.items():
        assert (got[i].width, got[i].height) == (w, h)
        assert abs(got[i].mean_luma - luma) < 1e-9

    out = resize_images(media, out_w=2, out_h=2).collect()
    assert all(len(bytes(r.pixels)) == 2 * 2 * 3 for r in out)


def test_decode_audio_features_real_wav(spark):
    from xenoeye_spark.datapipe.codecs import encode_wav
    from xenoeye_spark.datapipe.multimodal import decode_audio_features

    rows = []
    expect = {}
    for i in range(6):
        n = 20 + 10 * i
        s = (((np.arange(n) * 17 + i * 31) % 4001) - 2000).astype(np.int16)
        rows.append((i, bytearray(encode_wav(s, 8000 + 1000 * i)), None))
        expect[i] = (8000 + 1000 * i, n,
                     round(float(s.astype(np.float64).mean()), 6),
                     round(float(np.sqrt((s.astype(np.float64) ** 2)
                                         .mean())), 6))
    from xenoeye_spark.datapipe.multimodal import MEDIA_SCHEMA
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_audio_features(media).collect()}
    for i, (rate, n, mean_amp, rms) in expect.items():
        r = got[i]
        assert (r.sample_rate, r.n_samples, r.n_channels) == (rate, n, 1)
        assert r.mean_amp == mean_amp and r.rms == rms


def test_g711_expansion_matches_audioop_code_for_code():
    """mu-law and A-law WAV expansion == the stdlib audioop reference
    for ALL 256 codes (an implementation written independently of this
    repo), and a companded WAV decodes through decode_wav end to end."""
    import struct as _struct
    import warnings

    import numpy as np

    from xenoeye_spark.datapipe.codecs import (
        _alaw_expand, _ulaw_expand, decode_wav,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    codes = np.arange(256, dtype=np.uint8)
    assert (_ulaw_expand(codes)
            == np.frombuffer(audioop.ulaw2lin(bytes(codes), 2), "<i2")).all()
    assert (_alaw_expand(codes)
            == np.frombuffer(audioop.alaw2lin(bytes(codes), 2), "<i2")).all()

    def companded_wav(fmt_code: int, payload: bytes, rate=8000) -> bytes:
        fmt = _struct.pack("<HHIIHH", fmt_code, 1, rate, rate, 1, 8)
        body = (b"WAVE"
                + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(payload)) + payload)
        return b"RIFF" + _struct.pack("<I", len(body)) + body

    payload = bytes(codes)
    for fmt_code, expand in ((7, _ulaw_expand), (6, _alaw_expand)):
        samples, rate = decode_wav(companded_wav(fmt_code, payload))
        assert rate == 8000 and samples.shape == (256, 1)
        assert (samples[:, 0] == expand(codes)).all()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="must be 8-bit"):
        bad = companded_wav(7, payload)
        # flip declared bit depth to 16
        i = bad.index(b"fmt ")
        decode_wav(bad[:i + 8 + 14] + b"\x10\x00" + bad[i + 8 + 16:])


# -------------------------------------------- perceptual hashes (r12)

def _py_phash(img):
    """Literal python twin of the pinned dHash/aHash definitions."""
    g = img[:, :, :3].astype(np.int64).sum(axis=2)
    h, w = g.shape
    ys = [y * h // 8 for y in range(8)]
    d = [[g[ys[y], x * w // 9] for x in range(9)] for y in range(8)]
    dbits = [1 if d[y][x + 1] > d[y][x] else 0
             for y in range(8) for x in range(8)]
    a = [g[ys[y], x * w // 8] for y in range(8) for x in range(8)]
    tot = sum(a)
    abits = [1 if 64 * v > tot else 0 for v in a]

    def pack(bits):
        return (sum(b << (31 - k) for k, b in enumerate(bits[:32])),
                sum(b << (31 - k) for k, b in enumerate(bits[32:])))

    return pack(dbits) + pack(abits)


def test_image_perceptual_hash_matches_python_twin(spark):
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.codecs import encode_bmp, encode_ppm
    from xenoeye_spark.datapipe.multimodal import image_perceptual_hash

    rng = np.random.RandomState(13)
    rows, want = [], {}
    for i in range(12):
        img = rng.randint(0, 256, size=(12 + i % 5, 16 + i % 9, 3),
                          dtype=np.uint8)
        enc = encode_ppm if i % 2 == 0 else encode_bmp
        rows.append(Row(media_id=i, content=bytearray(enc(img))))
        want[i] = _py_phash(img)
    got = {r.media_id: (r.dhash_hi, r.dhash_lo, r.ahash_hi, r.ahash_lo)
           for r in image_perceptual_hash(
               spark.createDataFrame(rows)).collect()}
    assert got == want
    # halves are non-negative 32-bit (the oracle-exactness contract)
    for v in got.values():
        assert all(0 <= x < (1 << 32) for x in v)


def test_image_hash_neardup_banding_exact(spark):
    """Planted one-pixel perturbations: the banded join finds exactly
    the pairs a direct all-pairs hamming filter finds (pigeonhole
    exactness), and a radius > 3 request refuses."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.codecs import encode_ppm
    from xenoeye_spark.datapipe.multimodal import (
        image_hash_neardup, image_perceptual_hash,
    )

    def mk(i, perturb=False):
        w, h = 16 + i % 9, 12 + i % 5
        yy, xx, cc = np.meshgrid(np.arange(h), np.arange(w),
                                 np.arange(3), indexing="ij")
        img = ((i * 5 + yy * xx * 29 + 11 * cc) % 256).astype(np.uint8)
        if perturb:
            img[0, 0] = ((img[0, 0].astype(int) + 80) % 256
                         ).astype(np.uint8)
        return img

    rows = [Row(media_id=i, content=bytearray(encode_ppm(mk(i))))
            for i in range(40)]
    rows += [Row(media_id=100 + i,
                 content=bytearray(encode_ppm(mk(i, True))))
             for i in range(6)]
    hashes = image_perceptual_hash(spark.createDataFrame(rows))
    got = {(r.id_a, r.id_b): r.hamming
           for r in image_hash_neardup(hashes, radius=3).collect()}
    hv = {r.media_id: (r.dhash_hi, r.dhash_lo)
          for r in hashes.collect()}
    ids = sorted(hv)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = (bin(hv[a][0] ^ hv[b][0]).count("1")
                   + bin(hv[a][1] ^ hv[b][1]).count("1"))
            if ham <= 3:
                want[(a, b)] = ham
    assert got == want
    for i in range(6):                  # the planted twins all appear
        assert (i, 100 + i) in got and got[(i, 100 + i)] <= 1
    with pytest.raises(ValueError, match="pigeonhole"):
        image_hash_neardup(hashes, radius=4)


def test_image_hash_neardup_duplicate_ids(spark):
    """Dirty input: an id repeated under one hash and listed under two
    near hashes is never paired with itself, and each pair comes out
    once per distinct (id, hash) combination — the all-pairs filter
    over the distinct rows, as a multiset."""
    from xenoeye_spark.datapipe.multimodal import image_hash_neardup

    hi, lo = 0x12345678, 0x0F0F0F00
    rows = [
        (1, hi, lo), (1, hi, lo),        # the same row twice
        (2, hi, lo),                     # shares id 1's hash
        (1, hi, lo ^ 1),                 # id 1 again, 1 bit away
        (3, hi, lo ^ 3), (5, hi, lo ^ 7),
        (4, hi ^ 0xF0F0, lo),            # 8 bits away from everyone
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, dhash_hi long, dhash_lo long")
    out = image_hash_neardup(hashes, radius=3)
    try:
        got = sorted((r.id_a, r.id_b, r.hamming) for r in out.collect())
    finally:
        out._xe_cached.unpersist()
    distinct = sorted(set(rows))
    want = sorted(
        (a[0], b[0], bin(a[1] ^ b[1]).count("1")
         + bin(a[2] ^ b[2]).count("1"))
        for a in distinct for b in distinct
        if a[0] < b[0]
        and bin(a[1] ^ b[1]).count("1") + bin(a[2] ^ b[2]).count("1") <= 3
    )
    assert all(a < b for a, b, _ in got)
    assert got == want
    assert (1, 2, 0) in got and (1, 2, 1) in got


def test_audio_fingerprint_twin_and_neardup(spark):
    """The pinned envelope-gradient fingerprint matches a literal
    python twin; a slightly-perturbed clip (one sample nudged) stays
    within the banded near-dup radius via the SAME column-generic
    join the image hashes use; a too-short clip refuses."""
    from pyspark.sql import Row

    from xenoeye_spark.datapipe.codecs import encode_wav
    from xenoeye_spark.datapipe.multimodal import (
        audio_fingerprint, image_hash_neardup,
    )

    def clip(i, perturb=False):
        n = 200 + i % 150
        s = (((np.arange(n, dtype=np.int64) * 23 + i * 37) % 3001)
             - 1500).astype(np.int16)
        if perturb:
            s[0] = min(32767, int(s[0]) + 500)
        return s

    rows = [Row(media_id=i, content=bytearray(encode_wav(clip(i), 8000)))
            for i in range(15)]
    rows += [Row(media_id=100 + i,
                 content=bytearray(encode_wav(clip(i, True), 8000)))
             for i in range(4)]
    fp = audio_fingerprint(spark.createDataFrame(rows))
    got = {r.media_id: r for r in fp.collect()}

    # python twin for id 5
    s = clip(5).astype(np.int64)
    n = len(s)
    j = (np.arange(n) * 65) // n
    S = np.bincount(j, weights=s, minlength=65).astype(np.int64)
    C = np.bincount(j, minlength=65).astype(np.int64)
    bits = (S[1:] * C[:-1] > S[:-1] * C[1:]).astype(int)
    hi = sum(int(b) << (31 - k) for k, b in enumerate(bits[:32]))
    lo = sum(int(b) << (31 - k) for k, b in enumerate(bits[32:64]))
    assert (got[5].fp_hi, got[5].fp_lo) == (hi, lo)
    assert got[5].n_samples == n

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_hash_neardup(
                 fp, radius=3, hi_col="fp_hi", lo_col="fp_lo").collect()}
    for i in range(4):                  # one nudged sample: <=1 window
        assert (i, 100 + i) in pairs and pairs[(i, 100 + i)] <= 2

    short = [Row(media_id=0,
                 content=bytearray(encode_wav(clip(0)[:30], 8000)))]
    with pytest.raises(Exception, match="shorter than"):
        audio_fingerprint(spark.createDataFrame(short)).collect()
