"""WebP codec (functions/webpcodec.py): VP8L round-trips through every
bitstream feature the decoder consumes, direct forward/inverse transform
checks for all predictor modes, the metadata fast path for all three
container variants, and fail-closed behavior on hostile bytes.
"""

from __future__ import annotations

import numpy as np
import pytest

from themis_spark.functions import webpcodec as WC
from themis_spark.functions.imagecodec import UnsupportedImageError


def _pattern(w, h, seed=0):
    """Deterministic multi-color test image with runs (for LZ77) and
    gradients (for predictors)."""
    rng = np.arange(w * h, dtype=np.int64) * (7 + seed)
    r = ((rng // w) * 11 + seed) % 256
    g = (rng % 29) * 8 % 256
    b = (rng // 13) % 256
    img = np.stack([r, g, b], axis=1).astype(np.uint8).reshape(h, w, 3)
    img[2:5, 1:9] = (200, 100, 50)  # constant patch -> copy runs
    return img


MODES = ["literal", "lz77", "lz77_plain", "cache", "subtract_green",
         "predictor", "color", "palette"]


@pytest.mark.parametrize("mode", MODES)
def test_vp8l_round_trip_bit_exact(mode):
    if mode == "palette":
        img = np.zeros((9, 14, 3), np.uint8)
        img[::2] = (10, 200, 30)  # 3 colors -> bundled indices (pbits>0)
        img[:, 3] = (250, 1, 99)
    else:
        img = _pattern(13, 9, seed=ord(mode[0]))
    payload = WC.encode_webp_vp8l(img, mode=mode)
    out = WC.decode_webp(payload)
    assert out.shape == img.shape
    assert np.array_equal(out, img), mode


def test_palette_unbundled_path():
    # >16 distinct colors -> pbits=0 (plain index image, no bundling)
    img = np.zeros((4, 20, 3), np.uint8)
    for x in range(20):
        img[:, x] = (x * 12, 255 - x * 9, x)
    out = WC.decode_webp(WC.encode_webp_vp8l(img, mode="palette"))
    assert np.array_equal(out, img)


def test_wide_image_map_distances():
    # dist == xsize copies (the (0,1) plane-map entry) across rows
    img = np.tile(_pattern(17, 1, seed=3), (6, 1, 1))
    out = WC.decode_webp(WC.encode_webp_vp8l(img, mode="lz77"))
    assert np.array_equal(out, img)


@pytest.mark.parametrize("mode", list(range(14)))
def test_predictor_modes_invert(mode):
    # direct forward/inverse round trip per predictor mode: residues
    # from the forward transform must reconstruct bit-exactly
    w, h = 11, 7
    img = _pattern(w, h, seed=mode)
    pix = [(0xFF000000 | (int(r) << 16) | (int(g) << 8) | int(b))
           for r, g, b in img.reshape(-1, 3)]
    size_bits, sub_w = 2, (w + 3) >> 2
    sub = [0xFF000000 | (mode << 8)] * (sub_w * ((h + 3) >> 2))
    res = WC._predictor_forward(pix, w, h, sub, size_bits, sub_w)
    WC._predictor_inverse(res, w, h, sub, size_bits, sub_w)
    assert res == pix, mode


# 2x2 image, one predictor block. The decoded pixels are
#   P0 = ff000000 (residue 0 + opaque black)   P1 = ff101010 (LEFT + residue)
#   P2 = ff404040 (TOP + residue)               P3 = prediction + residue 0
# P3 sits on the right edge: L = P2, T = P1, TL = P0, and TR is the
# leftmost pixel of the current row, P2 (not T). Average2 is the
# per-channel floor mean. Expected values worked out by hand:
#   mode 3  TR                                   -> 40
#   mode 5  avg(avg(L, TR), T) = avg(40, 10)     -> 28
#   mode 9  avg(T, TR) = avg(10, 40)             -> 28
#   mode 10 avg(avg(L, TL), avg(T, TR))
#           = avg(avg(40, 00), 28) = avg(20, 28) -> 24
@pytest.mark.parametrize("mode,want", [
    (3, 0xFF404040), (5, 0xFF282828), (9, 0xFF282828), (10, 0xFF242424)],
    ids=["mode3", "mode5", "mode9", "mode10"])
def test_predictor_right_edge_top_right_is_row_start(mode, want):
    res = [0x00000000, 0x00101010, 0x00404040, 0x00000000]
    sub = [0xFF000000 | (mode << 8)]
    WC._predictor_inverse(res, 2, 2, sub, 2, 1)
    assert res == [0xFF000000, 0xFF101010, 0xFF404040, want]


def test_color_transform_inverts():
    w, h = 10, 6
    img = _pattern(w, h, seed=9)
    pix = [(0xFF000000 | (int(r) << 16) | (int(g) << 8) | int(b))
           for r, g, b in img.reshape(-1, 3)]
    size_bits, sub_w = 2, (w + 3) >> 2
    sub = [0xFF000000 | (0x30 << 16) | (0x20 << 8) | 0xF1] \
        * (sub_w * ((h + 3) >> 2))
    res = WC._color_forward(pix, w, h, sub, size_bits, sub_w)
    WC._color_inverse(res, w, h, sub, size_bits, sub_w)
    assert res == pix


def test_distance_map_head_entries():
    # spec short-distance map: first entries are the nearest neighbors
    assert WC._DIST_MAP[0] == (0, 1)
    assert WC._DIST_MAP[1] == (1, 0)
    assert WC._DIST_MAP[2] == (1, 1)
    assert WC._DIST_MAP[3] == (-1, 1)
    assert WC._DIST_MAP[4] == (0, 2)
    assert len(WC._DIST_MAP) == 120
    # spec table: dy runs 0..7 only, so its tail is the far right column
    assert WC._DIST_MAP[96] == (8, 0)
    assert WC._DIST_MAP[119] == (8, 7)
    assert max(dy for _, dy in WC._DIST_MAP) == 7
    # dist resolution: left pixel / row above / clamped minimum
    assert WC._plane_to_dist(2, 50) == 1
    assert WC._plane_to_dist(1, 50) == 50
    assert WC._plane_to_dist(4, 2) == 1   # (-1,1) at width 2 -> 1
    assert WC._plane_to_dist(121, 50) == 1  # plain code


def test_prefix_encode_decode_inverse():
    class FakeBr:
        def __init__(self, v):
            self.v = v

        def read(self, n):
            out = self.v & ((1 << n) - 1)
            self.v >>= n
            return out

    for value in [1, 2, 3, 4, 5, 6, 7, 8, 9, 12, 13, 17, 64, 100, 121,
                  200, 256, 1000, 4000]:
        code, eb, ev = WC._prefix_encode(value)
        assert WC._prefix_value(code, FakeBr(ev)) == value, value


def test_meta_vp8l_vp8x_vp8():
    img = _pattern(12, 5)
    lossless = WC.encode_webp_vp8l(img)
    m = WC.webp_meta(lossless)
    assert (m["variant"], m["width"], m["height"], m["n_frames"]) \
        == ("vp8l", 12, 5, 1)
    wrapped = WC.encode_webp_vp8x(lossless, 12, 5)
    mx = WC.webp_meta(wrapped)
    assert (mx["variant"], mx["width"], mx["height"]) == ("vp8x", 12, 5)
    # VP8X wrap still decodes (the walk finds the inner VP8L chunk)
    assert np.array_equal(WC.decode_webp(wrapped), img)
    lossy = WC.encode_vp8_lossy_stub(33, 21)
    ml = WC.webp_meta(lossy)
    assert (ml["variant"], ml["width"], ml["height"]) == ("vp8", 33, 21)


def test_lossy_decode_refuses_loudly():
    with pytest.raises(UnsupportedImageError, match="VP8 intra"):
        WC.decode_webp(WC.encode_vp8_lossy_stub(8, 8))


def test_decode_bomb_guard():
    # forge a VP8L header claiming 16384x16384 (268 MP > MAX_PIXELS)
    bw = WC._BitW()
    bw.write(0x2F, 8)
    bw.write(16383, 14)
    bw.write(16383, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    stream = bw.done() + b"\x00" * 32
    chunk = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    payload = (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little")
               + b"WEBP" + chunk)
    with pytest.raises(UnsupportedImageError, match="refusing"):
        WC.decode_webp(payload)


@pytest.mark.parametrize("mangle", ["truncate", "flip", "garbage", "empty"])
def test_hostile_bytes_raise_typed(mangle):
    img = _pattern(9, 6)
    payload = bytearray(WC.encode_webp_vp8l(img, mode="lz77"))
    if mangle == "truncate":
        candidates = [bytes(payload[:n])
                      for n in range(4, len(payload) - 1, 3)]
    elif mangle == "flip":
        candidates = []
        for i in range(12, len(payload), 2):
            p = bytearray(payload)
            p[i] ^= 0xFF
            candidates.append(bytes(p))
    elif mangle == "garbage":
        import random

        rnd = random.Random(7)
        candidates = [bytes(rnd.randrange(256) for _ in range(n))
                      for n in (0, 3, 12, 40, 200)]
    else:
        candidates = [b"", b"RIFF", b"RIFF\x00\x00\x00\x00WEBP"]
    for c in candidates:
        try:
            out = WC.decode_webp(c)
            assert out.ndim == 3  # a mutated-but-valid stream is fine
        except UnsupportedImageError:
            pass  # typed refusal is the contract
        # anything else (IndexError, struct.error, segv...) fails the test


def test_dispatch_through_imagecodec():
    from themis_spark.functions import imagecodec as IC

    img = _pattern(8, 5)
    payload = WC.encode_webp_vp8l(img, mode="subtract_green")
    assert IC.sniff_format(payload) == "webp"
    fmt, out = IC.decode_image(payload)
    assert fmt == "webp" and np.array_equal(out, img)
