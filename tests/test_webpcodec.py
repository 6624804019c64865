"""WebP (VP8L lossless) codec: round-trip matrix over every transform
path, prefix-code properties, the spec's distance neighborhood table,
container metadata (lossless / lossy VP8 / VP8X), and the
malformed-payload contract. The Spark decode leg and the DuckDB oracle
live in multimodal_webp_decode_oracle (queries/extensions.py)."""

from __future__ import annotations

import numpy as np
import pytest

from sqlpp_spark.ops import webpcodec as W
from sqlpp_spark.ops.webpcodec import (
    WebpCodecError,
    decode_webp,
    encode_webp_lossless,
    webp_info,
)

RNG = np.random.default_rng(20260814)


def _rt(img: np.ndarray, **kw) -> bytes:
    data = encode_webp_lossless(img, **kw)
    out = decode_webp(data)
    exp = img if img.ndim == 3 else np.stack([img] * 3, axis=-1)
    assert out.shape == exp.shape, (out.shape, exp.shape, kw)
    assert np.array_equal(out, exp), kw
    return data


# ---------------------------------------------------------------------------
# Round-trip matrix
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "shape", [(1, 1), (1, 9), (9, 1), (7, 5, 3), (13, 11, 4), (33, 17)]
)
def test_roundtrip_shapes(shape):
    _rt(RNG.integers(0, 256, size=shape, dtype=np.uint8))


@pytest.mark.parametrize("mode", list(range(14)))
def test_roundtrip_all_predictor_modes(mode):
    img = RNG.integers(0, 256, size=(21, 13, 3), dtype=np.uint8)
    _rt(img, predictor_mode=mode)


@pytest.mark.parametrize("cache_bits", [1, 3, 6, 11])
def test_roundtrip_color_cache(cache_bits):
    # few distinct colors → real cache hits
    vals = RNG.integers(0, 256, size=(5, 3), dtype=np.uint8)
    img = vals[RNG.integers(0, 5, size=(17, 19))]
    data = encode_webp_lossless(img, cache_bits=cache_bits, use_lz77=False)
    assert np.array_equal(decode_webp(data), img)


def test_cache_tokens_actually_emitted():
    vals = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    img = vals[RNG.integers(0, 2, size=(9, 9))]
    pix, w, h, _ = W._to_argb(img)
    tokens = W._tokenize(pix, w, 8, False)
    kinds = {t[0] for t in tokens}
    assert "cache" in kinds and "lit" in kinds


def test_lz77_copy_tokens_and_roundtrip():
    img = np.zeros((16, 16, 3), np.uint8)
    img[:, :, 0] = 7
    img[8:, :, 1] = 200
    pix, w, h, _ = W._to_argb(img)
    tokens = W._tokenize(pix, w, 0, True)
    assert any(t[0] == "copy" for t in tokens)
    # dist-1 and dist-width copies both decode correctly
    _rt(img)
    _rt(img, cache_bits=5)
    _rt(img, huffman_bits=2)


def test_roundtrip_transforms():
    img = RNG.integers(0, 256, size=(21, 13, 3), dtype=np.uint8)
    _rt(img, subtract_green=True)
    _rt(img, color_transform=(37, 0xDC, 100))
    _rt(img, subtract_green=True, predictor_mode=11, cache_bits=6)
    _rt(img, use_lz77=False)
    _rt(img, huffman_bits=3)
    _rt(img, huffman_bits=2, cache_bits=4)
    # small transform blocks (bits=2) exercise per-block sub-image lookup
    _rt(img, predictor_mode=12, transform_bits=2)
    _rt(img, color_transform=(200, 15, 0x80), transform_bits=2)


@pytest.mark.parametrize("ncol", [1, 2, 3, 4, 5, 16, 17, 200, 256])
def test_roundtrip_palette_all_bundle_widths(ncol):
    """<=2 colors bundle 8 px/byte, <=4 bundle 4, <=16 bundle 2, else
    unbundled — every width_bits branch plus both odd and even widths."""
    vals = RNG.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
    for w in (23, 24):
        img = vals[RNG.integers(0, ncol, size=(11, w))]
        _rt(img, palette=True)


def test_roundtrip_alpha_and_hint():
    rgba = RNG.integers(0, 256, size=(9, 9, 4), dtype=np.uint8)
    data = _rt(rgba)
    assert webp_info(data)["has_alpha"]
    rgb = RNG.integers(0, 256, size=(9, 9, 3), dtype=np.uint8)
    data = _rt(rgb)
    assert not webp_info(data)["has_alpha"]


def test_gray_input_replicates_to_rgb():
    img = RNG.integers(0, 256, size=(6, 7), dtype=np.uint8)
    out = decode_webp(encode_webp_lossless(img))
    assert out.shape == (6, 7, 3)
    assert np.array_equal(out[:, :, 0], img)
    assert np.array_equal(out[:, :, 1], img)


def test_palette_exclusive_of_other_transforms():
    img = np.zeros((4, 4, 3), np.uint8)
    with pytest.raises(ValueError):
        encode_webp_lossless(img, palette=True, subtract_green=True)


# ---------------------------------------------------------------------------
# Prefix-code / Huffman properties
# ---------------------------------------------------------------------------


class _FakeBR:
    def __init__(self, v):
        self.v = v

    def read(self, n):
        return self.v


@pytest.mark.parametrize("v", list(range(1, 300)) + [1000, 4095, 4096, 10**6])
def test_lz77_prefix_code_inverse(v):
    code, extra, _ = W._prefix_encode(v)
    assert W._prefix_value(code, _FakeBR(extra)) == v


def test_package_merge_kraft_complete_and_limited():
    freqs = {i: (i * 37) % 100 + 1 for i in range(60)}
    for limit in (6, 8, 15):
        lengths = W._limited_lengths(freqs, limit)
        assert set(lengths) == set(freqs)
        assert max(lengths.values()) <= limit
        assert abs(sum(2.0 ** -ln for ln in lengths.values()) - 1.0) < 1e-9
    # skewed distribution forces the limit to bind
    skew = {i: 2**i for i in range(20)}
    lengths = W._limited_lengths(skew, 6)
    assert max(lengths.values()) == 6
    assert abs(sum(2.0 ** -ln for ln in lengths.values()) - 1.0) < 1e-9


def test_canonical_codes_prefix_free():
    lengths = {0: 2, 1: 2, 2: 3, 3: 3, 4: 3, 5: 4, 6: 5, 7: 5}
    codes = W._canonical_codes(lengths)
    bits = {
        format(c, f"0{ln}b") for c, ln in codes.values()
    }
    for a in bits:
        for b in bits:
            if a != b:
                assert not b.startswith(a)


def test_huffdecoder_rejects_incomplete_code():
    with pytest.raises(WebpCodecError):
        W._HuffDecoder({0: 2, 1: 2, 2: 2})  # kraft 3/4


# ---------------------------------------------------------------------------
# Distance plane codes — RFC 9649 §5.2.3 known answers
# ---------------------------------------------------------------------------

# First 24 offsets exactly as the spec's table lists them.
_SPEC_PREFIX = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
]


def test_plane_code_table_spec_prefix():
    assert W._PLANE_CODES[:24] == _SPEC_PREFIX


def test_plane_code_table_invariants():
    t = W._PLANE_CODES
    assert len(t) == 120 and len(set(t)) == 120
    assert all(0 <= y <= 7 and -7 <= x <= 8 for x, y in t)
    assert all(x >= 1 for x, y in t if y == 0)
    d2 = [x * x + y * y for x, y in t]
    assert d2 == sorted(d2)


def test_plane_to_distance_mapping():
    # code 1 = (0,1): one row up; code 2 = (1,0): previous pixel
    assert W._plane_to_distance(1, 50) == 50
    assert W._plane_to_distance(2, 50) == 1
    # negative dx clamps to >= 1 when it would go non-positive
    assert W._plane_to_distance(4, 1) == 1  # (-1,1) on width 1: 1*1-1=0 -> 1
    assert W._plane_to_distance(121, 999) == 1  # direct code: 121-120
    assert W._plane_to_distance(300, 999) == 180


# ---------------------------------------------------------------------------
# Container metadata
# ---------------------------------------------------------------------------


def test_webp_info_lossless():
    img = RNG.integers(0, 256, size=(14, 10, 3), dtype=np.uint8)
    info = webp_info(encode_webp_lossless(img))
    assert info == {
        "format": "lossless", "width": 10, "height": 14,
        "has_alpha": False, "has_animation": False,
        "n_frames": 0, "n_chunks": 1,
    }


def _vp8_lossy_chunk(w: int, h: int) -> bytes:
    # RFC 6386 §9.1 key-frame uncompressed header: 3-byte frame tag
    # (keyframe bit 0 = 0), start code 9d 01 2a, 16-bit LE w then h
    tag = (0).to_bytes(3, "little")
    return tag + b"\x9d\x01\x2a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")


def test_webp_info_lossy_vp8_header():
    data = W._riff_wrap([(b"VP8 ", _vp8_lossy_chunk(640, 480) + b"\x00" * 8)])
    info = webp_info(data)
    assert info["format"] == "lossy"
    assert (info["width"], info["height"]) == (640, 480)


def test_webp_info_vp8x_extended_and_frames():
    flags = (0x10 | 0x02).to_bytes(4, "little")  # alpha + animation
    canvas = (799).to_bytes(3, "little") + (599).to_bytes(3, "little")
    data = W._riff_wrap([
        (b"VP8X", flags + canvas),
        (b"ANIM", b"\x00" * 6),
        (b"ANMF", b"\x00" * 16),
        (b"ANMF", b"\x00" * 16),
    ])
    info = webp_info(data)
    assert info["format"] == "extended"
    assert (info["width"], info["height"]) == (800, 600)
    assert info["has_alpha"] and info["has_animation"]
    assert info["n_frames"] == 2


def test_lossy_decode_malformed_raises_module_error():
    # A bare synthetic key-frame header with no coefficient data must
    # fail with the module error (the VP8 pixel path now decodes real
    # streams — see tests/test_vp8_interop.py for conformance).
    data = W._riff_wrap([(b"VP8 ", _vp8_lossy_chunk(64, 48) + b"\x00" * 8)])
    with pytest.raises(WebpCodecError):
        decode_webp(data)


def test_bad_container_and_truncation_contract():
    img = RNG.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    data = encode_webp_lossless(img, subtract_green=True, cache_bits=4)
    for bad in (b"", b"RIFF", b"RIFFxxxxWAVE", data[:11]):
        with pytest.raises(WebpCodecError):
            decode_webp(bad)
        with pytest.raises(WebpCodecError):
            webp_info(bad)
    # every truncation of the stream fails with the module error only
    for cut in range(12, len(data), 7):
        try:
            decode_webp(data[:cut])
        except WebpCodecError:
            pass


def test_oversized_dimensions_rejected_before_allocation():
    """A 5-byte crafted VP8L payload can declare 16384x16384 (268M
    pixels); the decoder must reject it up front instead of feeding
    per-pixel Python loops and LZ77 copies gigabytes of lists."""
    import time

    payload = b"\x2f\xff\xff\xff\xff"  # sig + w-1=16383, h-1=16383, ...
    data = W._riff_wrap([(b"VP8L", payload)])
    t0 = time.monotonic()
    with pytest.raises(WebpCodecError, match="pixel"):
        decode_webp(data)
    assert time.monotonic() - t0 < 1.0  # failed fast, no allocation


def test_version_and_signature_rejected():
    img = np.zeros((2, 2, 3), np.uint8)
    data = bytearray(encode_webp_lossless(img))
    sig_off = data.index(b"VP8L") + 8
    data[sig_off] ^= 0xFF
    with pytest.raises(WebpCodecError):
        decode_webp(bytes(data))


# ---------------------------------------------------------------------------
# Spark leg
# ---------------------------------------------------------------------------


def test_decode_image_handles_webp(spark, sf_dir):
    from sqlpp_spark.ops.multimodal import decode_image, synthesize
    from sqlpp_spark.queries import table

    d = table(spark, sf_dir, "documents").limit(24)
    rows = decode_image(synthesize(d, "webp")).collect()
    assert rows
    for r in rows:
        assert r.decoded, r
        assert r.width == r.media_id % 13 + 4
        assert r.height == r.media_id % 11 + 4
        assert r.channels == 3


# ---------------------------------------------------------------------------
# Animated WebP (VP8X/ANIM/ANMF) — r11.
# ---------------------------------------------------------------------------


def test_animated_roundtrip_full_canvas():
    rng = np.random.default_rng(4)
    frames = [rng.integers(0, 256, (18, 26, 4), dtype=np.uint8)
              for _ in range(3)]
    for f in frames:
        f[..., 3] = 255
    data = W.encode_webp_animated(frames, 50)
    got = W.decode_webp_frames(data)
    assert len(got) == 3
    for g, f in zip(got, frames):
        assert np.array_equal(g, f)
    assert len(W.decode_webp_frames(data, max_frames=2)) == 2


def test_animated_subcanvas_offsets_and_dispose():
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, (20, 30, 4), dtype=np.uint8)
    base[..., 3] = 255
    patch = rng.integers(0, 256, (8, 10, 4), dtype=np.uint8)
    patch[..., 3] = 255
    data = W.encode_webp_animated([base, patch], 40,
                                  offsets=[(0, 0), (4, 6)])
    g = W.decode_webp_frames(data)
    exp = base.copy()
    exp[6:14, 4:14] = patch
    assert np.array_equal(g[0], base) and np.array_equal(g[1], exp)
    data2 = W.encode_webp_animated([base, patch], 40,
                                   offsets=[(0, 0), (4, 6)], dispose=True)
    g2 = W.decode_webp_frames(data2)
    exp2 = np.zeros_like(base)
    exp2[6:14, 4:14] = patch
    assert np.array_equal(g2[1], exp2)


def test_animated_blend_compositing():
    """Hand-build a blending (B=0) ANMF over a known canvas and pin
    the integer src-OVER-dst arithmetic."""
    base = np.full((16, 16, 4), (40, 80, 120, 255), np.uint8)
    overlay = np.full((16, 16, 4), (200, 100, 0, 128), np.uint8)
    anm = W.encode_webp_animated([base, overlay], 30)
    # flip frame 2's no-blend flag off (byte 15 of its ANMF payload)
    raw = bytearray(anm)
    pos = 12
    seen = 0
    while pos + 8 <= len(raw):
        tag = bytes(raw[pos:pos + 4])
        size = int.from_bytes(raw[pos + 4:pos + 8], "little")
        if tag == b"ANMF":
            seen += 1
            if seen == 2:
                raw[pos + 8 + 15] &= ~0x02
        pos += 8 + size + (size & 1)
    got = W.decode_webp_frames(bytes(raw))[1]
    # src OVER dst, integer form of RFC 9649: oa = sa*255 + da*(255-sa)
    sa, da = 128, 255
    oa = sa * 255 + da * (255 - sa)
    exp_a = oa // 255
    exp_rgb = [
        (s * (sa * 255) + d * (da * (255 - sa))) // oa
        for s, d in ((200, 40), (100, 80), (0, 120))
    ]
    assert got[0, 0].tolist() == exp_rgb + [exp_a]
    assert (got == got[0, 0]).all()


def test_animated_lossy_frame_decodes():
    """An ANMF whose image data is VP8 (+ALPH) routes through the
    conformance-tested lossy decoder; pin via the committed stream."""
    import base64

    from sqlpp_spark.ops.vp8codec import CONFORMANCE_STREAMS

    still = base64.b64decode(CONFORMANCE_STREAMS["grad64x80_q40"])
    inner = still[12:]
    vp8x = bytes([0x02, 0, 0, 0]) + (79).to_bytes(3, "little") \
        + (63).to_bytes(3, "little")
    anim = b"\x00" * 6
    anmf = (0).to_bytes(3, "little") * 2 + (79).to_bytes(3, "little") \
        + (63).to_bytes(3, "little") + (40).to_bytes(3, "little") \
        + bytes([0x02]) + inner
    data = W._riff_wrap([(b"VP8X", vp8x), (b"ANIM", anim),
                         (b"ANMF", anmf)])
    got = W.decode_webp_frames(data)
    ref = decode_webp(still)
    assert np.array_equal(got[0][:, :, :3], ref)
    assert (got[0][:, :, 3] == 255).all()


def test_animated_malformed_contract():
    rng = np.random.default_rng(6)
    f = rng.integers(0, 256, (10, 12, 4), dtype=np.uint8)
    data = W.encode_webp_animated([f, f], 20)
    for cut in range(12, len(data), 11):
        try:
            W.decode_webp_frames(data[:cut])
        except WebpCodecError:
            pass
    with pytest.raises(WebpCodecError):
        W.encode_webp_animated([f], offsets=[(1, 0)])  # odd offset


def test_animated_total_pixel_budget():
    """decode_webp_frames caps CUMULATIVE output (frames x canvas):
    each returned frame is a canvas copy, so a big canvas plus many
    tiny ANMF chunks must not turn a small file into unbounded memory
    (the _MAX_PIXELS class, extended to animations)."""
    f = np.zeros((10, 12, 4), np.uint8)
    data = W.encode_webp_animated([f] * 5, 20)
    assert len(W.decode_webp_frames(data)) == 5
    # budget smaller than 5 full canvases -> rejected up front
    with pytest.raises(WebpCodecError):
        W.decode_webp_frames(data, max_total_pixels=4 * 10 * 12)
    # an explicit max_frames shrinks the charged budget
    assert len(W.decode_webp_frames(
        data, max_frames=3, max_total_pixels=3 * 10 * 12)) == 3
    with pytest.raises(WebpCodecError):
        W.decode_webp_frames(data, max_frames=4,
                             max_total_pixels=3 * 10 * 12)


def test_animated_encoder_blend_flag():
    """r12 encoder blend: True blends every frame after the first;
    a per-frame list picks individual frames; frame 0 always
    overwrites. Values follow the exact integer src-OVER-dst form
    (anchored externally in test_webp_interop.py's animation test)."""
    base = np.full((8, 8, 4), (10, 20, 30, 255), np.uint8)
    over = np.full((8, 8, 4), (200, 100, 50, 128), np.uint8)
    got = W.decode_webp_frames(W.encode_webp_animated([base, over], 20,
                                                      blend=True))
    v = lambda s, d: (s * 128 * 255 + d * 255 * 127) // (255 * 255)
    assert got[1][0, 0].tolist() == [v(200, 10), v(100, 20),
                                     v(50, 30), 255]
    # per-frame list: frame 1 overwrites, frame 2 blends
    got2 = W.decode_webp_frames(W.encode_webp_animated(
        [base, over, over], 20, blend=[False, False, True]))
    assert got2[1][0, 0].tolist() == [200, 100, 50, 128]
    # frame 2 blends onto the alpha-128 canvas left by frame 1
    sa, da = 128, 128
    oa = sa * 255 + da * (255 - sa)
    exp = [(c * sa * 255 + c * da * (255 - sa)) // oa
           for c in (200, 100, 50)] + [oa // 255]
    assert got2[2][0, 0].tolist() == exp
