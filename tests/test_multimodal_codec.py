"""Real BMP codec behind the multimodal slot (VERDICT r3 item 5): the
pure-numpy 24-bit BMP decode/encode/resize path, checked bit-exactly
against an INDEPENDENT per-pixel pure-Python oracle decoder (no shared
code with the numpy implementation), plus the Spark pipelines that run
it inside the Arrow codec slot."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from debezium_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    bmp_features,
    decode_bmp,
    decode_stub_features,
    encode_bmp,
    resize_images,
    resize_nearest,
)


def _oracle_decode(data: bytes) -> list[list[tuple[int, int, int]]]:
    """Independent BMP reader: byte-at-a-time, no numpy — the test
    oracle the codec must agree with bit-for-bit."""
    assert data[:2] == b"BM"
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    top_down, h = h < 0, abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for r in range(h):
        base = off + r * stride
        row = []
        for c in range(w):
            b, g, rr = data[base + 3 * c : base + 3 * c + 3]
            row.append((rr, g, b))
        rows.append(row)
    if not top_down:
        rows.reverse()
    return rows


def _rand_img(h, w, seed):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )


@pytest.mark.parametrize("h,w", [(1, 1), (2, 3), (5, 4), (7, 6), (3, 11)])
def test_encode_decode_roundtrip_bit_exact(h, w):
    # widths 1/3/11 exercise non-trivial 4-byte row padding
    img = _rand_img(h, w, seed=h * 100 + w)
    data = encode_bmp(img)
    assert np.array_equal(decode_bmp(data), img)
    # and the independent oracle agrees pixel-for-pixel
    oracle = _oracle_decode(data)
    for y in range(h):
        for x in range(w):
            assert tuple(img[y, x]) == oracle[y][x]


def test_decode_top_down_bmp():
    """Negative-height (top-down) BMPs decode to the same pixels as
    their bottom-up twin."""
    img = _rand_img(4, 3, seed=7)
    data = bytearray(encode_bmp(img))
    h = int.from_bytes(data[22:26], "little")
    stride = ((3 * 3 + 3) // 4) * 4
    # flip to top-down: negate height, reverse the row order in place
    data[22:26] = (-h).to_bytes(4, "little", signed=True)
    rows = [bytes(data[54 + r * stride : 54 + (r + 1) * stride]) for r in range(h)]
    data[54:] = b"".join(reversed(rows))
    assert np.array_equal(decode_bmp(bytes(data)), img)


def test_decode_rejects_non_bmp_and_unsupported_profiles():
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG........" + b"\x00" * 60)
    data = bytearray(encode_bmp(_rand_img(2, 2, seed=1)))
    data[28:30] = (8).to_bytes(2, "little")  # 8-bit palette
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_bmp(bytes(data))
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(bytes(encode_bmp(_rand_img(4, 4, seed=2))[:60]))


def test_resize_nearest_known_grid():
    """Hand-computed nearest-neighbor: 4x2 -> 2x1 picks the pixel at
    floor((i+0.5)*src/dst) per axis."""
    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    out = resize_nearest(img, 2, 1)
    # ys = [(1*2)//2]=[1] wait: ((0*2+1)*2)//(2*1) = 1 -> row 1
    assert out.shape == (1, 2, 3)
    assert np.array_equal(out[0, 0], img[1, 1])
    assert np.array_equal(out[0, 1], img[1, 3])


def test_bmp_features_exact_means():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[0, 0] = (8, 16, 32)  # one bright pixel
    f = bmp_features(img, dim=17)
    assert f[:2] == [2.0, 2.0]
    assert f[2:5] == [2.0, 4.0, 8.0]  # global means = sum/4
    assert f[5:8] == [8.0, 16.0, 32.0]  # top-left quadrant = the pixel
    assert f[8:11] == [0.0, 0.0, 0.0]  # top-right


def _media_df(spark, payloads):
    rows = [
        (
            i,
            bytearray(p),
            ("image/bmp", len(p), hashlib.sha256(p).hexdigest()),
        )
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_spark_decode_features_matches_independent_oracle(spark):
    imgs = [_rand_img(5, 4, seed=i) for i in range(3)]
    df = _media_df(spark, [encode_bmp(im) for im in imgs])
    got = {
        r["media_id"]: r["feature"]
        for r in decode_stub_features(df, dim=17).collect()
    }
    for i, im in enumerate(imgs):
        data = encode_bmp(im)
        # oracle features from the INDEPENDENT decoder
        px = _oracle_decode(data)
        h, w = len(px), len(px[0])
        exp = [float(w), float(h)]
        for c in range(3):
            exp.append(
                sum(px[y][x][c] for y in range(h) for x in range(w))
                / (h * w)
            )
        hh, hw = (h + 1) // 2, (w + 1) // 2
        for ys, xs in (
            (range(hh), range(hw)),
            (range(hh), range(w - hw, w)),
            (range(h - hh, h), range(hw)),
            (range(h - hh, h), range(w - hw, w)),
        ):
            n = len(ys) * len(xs)
            for c in range(3):
                exp.append(
                    sum(px[y][x][c] for y in ys for x in xs) / n
                )
        # the feature column is float32 — cast the float64 oracle the
        # same way for a BIT-exact compare, not an approx one
        assert got[i] == [float(np.float32(v)) for v in exp], i


def test_spark_resize_images_bit_exact(spark):
    big = _rand_img(8, 12, seed=42)  # wide: clamps to max_w
    small = _rand_img(3, 3, seed=43)  # fits: passthrough dims
    df = _media_df(spark, [encode_bmp(big), encode_bmp(small)])
    out = {r["media_id"]: r for r in resize_images(df, 6, 6).collect()}

    assert (out[0]["src_w"], out[0]["src_h"]) == (12, 8)
    assert (out[0]["out_w"], out[0]["out_h"]) == (6, 4)
    expected = encode_bmp(resize_nearest(big, 6, 4))
    assert bytes(out[0]["resized"]) == expected
    assert out[0]["out_md5"] == hashlib.md5(expected).hexdigest()
    # resized output is itself a valid BMP per the independent oracle
    px = _oracle_decode(bytes(out[0]["resized"]))
    assert (len(px), len(px[0])) == (4, 6)

    assert (out[1]["out_w"], out[1]["out_h"]) == (3, 3)
    assert np.array_equal(decode_bmp(bytes(out[1]["resized"])), small)


def test_spark_mixed_mime_batch_decodes_both_paths(spark):
    img = encode_bmp(_rand_img(2, 2, seed=5))
    txt = b"hello multimodal"
    rows = [
        (0, bytearray(img), ("image/bmp", len(img), "x")),
        (1, bytearray(txt), ("text/plain", len(txt), "y")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["feature"]
        for r in decode_stub_features(df, dim=8).collect()
    }
    assert got[0][:2] == [2.0, 2.0]  # real decode: w, h
    assert all(0.0 <= v <= 1.0 for v in got[1])  # digest stand-in


# ---------------------------------------------------------------------------
# PNG codec (stdlib zlib + numpy unfiltering — no image library)
# ---------------------------------------------------------------------------

import zlib as _zlib

from debezium_spark.functions.multimodal import (  # noqa: E402
    decode_png,
    encode_png,
    resize_images as _resize_images,
)


def _hand_png(width, height, colortype, scanlines):
    """Independent PNG builder: raw chunk assembly with stdlib zlib
    only — no shared code with encode_png. ``scanlines`` = list of
    (filter_byte, raw_bytes) per row, already filtered by hand."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big") + typ + data
            + (_zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([8, colortype, 0, 0, 0])
    )
    body = b"".join(bytes([f]) + raw for f, raw in scanlines)
    return (
        sig + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(body))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filt", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter_type(filt):
    img = _rand_img(6, 5, seed=filt + 10)
    data = encode_png(img, row_filters=[filt] * 6)
    assert np.array_equal(decode_png(data), img)


def test_png_mixed_filters_roundtrip():
    img = _rand_img(5, 7, seed=99)
    data = encode_png(img, row_filters=[0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(data), img)


def test_png_decode_against_hand_built_scanlines():
    """Hand-filtered scanlines (Sub then Up) with hand-computed
    expected reconstruction — the decoder must match the arithmetic of
    the PNG spec, not our encoder."""
    # 2x2 RGB. Row 0 uses Sub: raw = [10,20,30, 5,6,7]
    #   recon row0 = [10,20,30, 15,26,37]
    # Row 1 uses Up: raw = [1,1,1, 2,2,2]
    #   recon row1 = [11,21,31, 17,28,39]
    data = _hand_png(
        2, 2, 2,
        [(1, bytes([10, 20, 30, 5, 6, 7])), (2, bytes([1, 1, 1, 2, 2, 2]))],
    )
    px = decode_png(data)
    assert px.tolist() == [
        [[10, 20, 30], [15, 26, 37]],
        [[11, 21, 31], [17, 28, 39]],
    ]


def test_png_gray_and_rgba_profiles():
    # grayscale (ct 0): replicated into RGB
    g = _hand_png(2, 1, 0, [(0, bytes([7, 200]))])
    assert decode_png(g).tolist() == [[[7, 7, 7], [200, 200, 200]]]
    # RGBA (ct 6): alpha dropped
    a = _hand_png(1, 1, 6, [(0, bytes([1, 2, 3, 128]))])
    assert decode_png(a).tolist() == [[[1, 2, 3]]]


def test_png_rejects_unsupported_profiles():
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\xff\xd8\xff\xe0" + b"\x00" * 40)  # jpeg magic
    # 16-bit depth
    bad = bytearray(_hand_png(1, 1, 2, [(0, bytes([1, 2, 3]))]))
    bad[24] = 16  # IHDR bit depth byte
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_png(bytes(bad))


def test_spark_decode_and_resize_png(spark):
    imgs = [_rand_img(6, 9, seed=i + 50) for i in range(2)]
    payloads = [
        encode_png(im, row_filters=[4] * 6) for im in imgs  # Paeth rows
    ]
    rows = [
        (i, bytearray(p), ("image/png", len(p), "x"))
        for i, p in enumerate(payloads)
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["feature"]
        for r in decode_stub_features(df, dim=5).collect()
    }
    for i, im in enumerate(imgs):
        assert feats[i][:2] == [9.0, 6.0]  # real dims from the codec
    out = {r["media_id"]: r for r in _resize_images(df, 3, 3).collect()}
    for i, im in enumerate(imgs):
        assert (out[i]["out_w"], out[i]["out_h"]) == (3, 2)
        resized = decode_png(bytes(out[i]["resized"]))  # PNG in, PNG out
        assert np.array_equal(
            resized,
            __import__(
                "debezium_spark.functions.multimodal", fromlist=["x"]
            ).resize_nearest(im, 3, 2),
        )


# --- baseline JPEG codec (functions/jpeg.py) -------------------------

from debezium_spark.functions.jpeg import (  # noqa: E402
    decode_jpeg,
    encode_jpeg,
)


def _tiled(th, tw, tiles_seed, tile=8):
    rng = np.random.default_rng(tiles_seed)
    tiles = rng.integers(0, 256, (th, tw, 3), dtype=np.uint8)
    return np.kron(tiles, np.ones((tile, tile, 1), dtype=np.uint8))


def test_jpeg_block_constant_roundtrip_bit_exact():
    """With the all-ones quant table a block-constant image has only
    exact-integer DC terms (AC exactly zero), so encode->decode is
    BIT-EXACT — the codec's provable-correctness fixture."""
    img = _tiled(3, 4, tiles_seed=7)
    assert np.array_equal(decode_jpeg(encode_jpeg(img)), img)


def test_jpeg_gradient_bounded_rounding():
    y, x = np.mgrid[0:24, 0:40]
    img = np.stack(
        [(x * 6) % 256, (y * 9) % 256, (x + y) % 256], axis=-1
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2
    # non-multiple-of-8 dims: edge-replicated pad is trimmed on decode
    odd = img[:19, :13]
    dec_odd = decode_jpeg(encode_jpeg(odd))
    assert dec_odd.shape == odd.shape
    assert np.abs(dec_odd.astype(int) - odd.astype(int)).max() <= 2


def test_jpeg_decode_hand_built_stream():
    """Independent oracle: a minimal grayscale JPEG hand-assembled
    byte-by-byte (NOT via encode_jpeg), with hand-derived Huffman
    tables and hand-computed entropy bits. One 8x8 block of constant
    200: DC = 8*(200-128) = 576 (orthonormal DCT), category 10; the
    hand DHT gives category-10 the single length-1 code '0' and EOB
    the AC length-1 code '0', so the stream is
    0 1001000000 0 + 1111 padding = 0x48 0x0F."""
    import struct

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dqt = seg(0xDB, b"\x00" + b"\x01" * 64)  # table 0, all ones
    sof = seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dc_bits = bytes([1] + [0] * 15)  # one code of length 1
    dht_dc = seg(0xC4, b"\x00" + dc_bits + bytes([10]))  # -> category 10
    dht_ac = seg(0xC4, b"\x10" + dc_bits + bytes([0x00]))  # -> EOB
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 0x3F, 0]))
    stream = (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
        + bytes([0x48, 0x0F]) + b"\xff\xd9"
    )
    out = decode_jpeg(stream)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 200, dtype=np.uint8))


def test_jpeg_lowest_quality_table_fits_the_8bit_dqt():
    """quality=1 scales the flat table past 255; the file's 8-bit DQT
    must carry the same value the encoder quantized with, or the
    decoder dequantizes with a wrapped table. Block-constant content
    has DC only: the error is half a DC step (255 / 16) per YCbCr
    channel, at most 2.772x that in RGB (B = Y + 1.772 Cb), plus
    rounding. A wrapped table misses this bound by 2x."""
    for seed in range(3):
        img = _tiled(2, 2, tiles_seed=seed)
        dec = decode_jpeg(encode_jpeg(img, quality=1))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 47


def test_jpeg_zrl_past_last_coefficient_is_rejected():
    """A ZRL (16 zeros) that runs past coefficient 63 is a corrupt
    stream: four ZRLs from k=1 reach k=65. Hand-built like the stream
    above: DC category 0 and AC ZRL each own the length-1 code '0', so
    the entropy bits are 0 0000 + 111 padding = 0x07."""
    import struct

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    one_code = bytes([1] + [0] * 15)
    stream = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + b"\x01" * 64)
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, b"\x00" + one_code + bytes([0x00]))  # DC: category 0
        + seg(0xC4, b"\x10" + one_code + bytes([0xF0]))  # AC: ZRL
        + seg(0xDA, bytes([1, 1, 0x00, 0, 0x3F, 0]))
        + bytes([0x07])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="AC coefficient index overrun"):
        decode_jpeg(stream)


def test_jpeg_rejects_unsupported_profiles():
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
    good = bytearray(encode_jpeg(_tiled(1, 1, 3)))
    # flip SOF0 -> SOF2 (progressive)
    i = bytes(good).find(b"\xff\xc0")
    prog = bytes(good[:i]) + b"\xff\xc2" + bytes(good[i + 2 :])
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(prog)
    # claim 2x2 sampling on component 1 (chroma subsampling)
    sub = bytearray(good)
    sub[i + 11] = 0x22
    with pytest.raises(NotImplementedError, match="subsampling"):
        decode_jpeg(bytes(sub))
    # truncated entropy stream
    with pytest.raises(ValueError):
        decode_jpeg(bytes(good[:-8]))


def test_spark_decode_and_resize_jpeg(spark):
    # 16x16-constant tiles: nearest 2x downsample lands on tile
    # centers, so the resized image is 8x8-block-constant and the
    # JPEG re-encode in resize_images stays BIT-EXACT end to end
    img = _tiled(2, 3, tiles_seed=11, tile=16)  # 32 x 48
    p = encode_jpeg(img)
    rows = [(0, bytearray(p), ("image/jpeg", len(p), "x"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_stub_features(df, dim=5).collect()[0]["feature"]
    assert feats[:2] == [48.0, 32.0]  # real dims from the codec
    out = _resize_images(df, 24, 16).collect()[0]
    assert (out["out_w"], out["out_h"]) == (24, 16)
    from debezium_spark.functions.multimodal import resize_nearest

    assert np.array_equal(
        decode_jpeg(bytes(out["resized"])), resize_nearest(img, 24, 16)
    )


# --- WAV (RIFF PCM) codec (functions/wav.py) -------------------------

from debezium_spark.functions.wav import (  # noqa: E402
    decode_wav,
    encode_wav,
    wav_features,
)


def _tone(n=800, rate=8000, channels=2, seed=5):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(-20000, 20000, (n, channels)).astype(np.int16),
        rate,
    )


def test_wav_roundtrip_bit_exact():
    s, rate = _tone()
    dec, r2 = decode_wav(encode_wav(s, rate))
    assert r2 == rate
    assert np.array_equal(dec, s)  # PCM is lossless


def test_wav_decode_hand_built_stream():
    """Independent oracle: a minimal mono 16-bit WAV hand-assembled
    byte-by-byte with an extra LIST chunk (must be skipped) and an odd
    -sized chunk (word-aligned padding must be honored)."""
    import struct

    samples = [0, 1000, -1000, 32767, -32768]
    data = b"".join(struct.pack("<h", v) for v in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
    odd = b"liss" + struct.pack("<I", 3) + b"xyz" + b"\x00"  # pad byte
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + odd
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    dec, rate = decode_wav(wav)
    assert rate == 44100
    assert dec[:, 0].tolist() == samples


def test_wav_8bit_widening_and_rejections():
    import struct

    # 8-bit unsigned: 0 -> -32768, 255 -> 32767 (exact full-scale map)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 3) + bytes([0, 128, 255]) + b"\x00"
    )
    dec, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert dec[:, 0].tolist() == [-32768, 128 * 257 - 32768, 32767]

    with pytest.raises(ValueError, match="not a WAV"):
        decode_wav(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
    # float PCM (tag 3)
    ffmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    fb = (
        b"WAVE" + b"fmt " + struct.pack("<I", 16) + ffmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="integer PCM"):
        decode_wav(b"RIFF" + struct.pack("<I", len(fb)) + fb)


def test_wav_features_exact():
    s = np.array([[100], [-100], [300], [-300]], dtype=np.int16)
    f = wav_features(s, rate=1000, dim=16)
    assert f[0] == 1000.0 and f[1] == 1.0 and f[2] == 4.0
    assert f[3] == 0.004
    assert f[4] == 0.0  # exact mean
    assert f[5] == np.sqrt((100**2 + 100**2 + 300**2 + 300**2) / 4)
    assert f[6] == 300.0
    assert f[7] == 3.0  # three sign crossings


def test_spark_decode_features_wav(spark):
    s, rate = _tone(seed=9)
    p = encode_wav(s, rate)
    rows = [(0, bytearray(p), ("audio/wav", len(p), "x"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_stub_features(df, dim=8).collect()[0]["feature"]
    exp = wav_features(s, rate, dim=8)
    assert feats == [np.float32(v) for v in exp]
