"""Baseline JPEG codec (operators/jpegcodec.py) — correctness without any
external codec: the DCT is checked against the textbook double-sum
definition (ground truth independent of the matrix construction), the
solid-color closed form is asserted equal to the real codec output, and
lossy round trips are bounded by PSNR.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from sneaky_data_matcher_spark.operators import jpegcodec as J


def _dct2_textbook(block: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 FDCT by direct double summation — the ground truth the
    matrix path must match (catches any scale/transpose slip that a
    matrix round trip would cancel)."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / math.sqrt(2) if u == 0 else 1.0
            cv = 1 / math.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[y, x]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[v, u] = 0.25 * cu * cv * s
    return out


def test_dct_matrix_matches_textbook_definition():
    rng = np.random.RandomState(7)
    blk = rng.randint(-128, 128, size=(8, 8)).astype(np.float64)
    got = J._C @ blk @ J._C.T
    want = _dct2_textbook(blk)
    assert np.abs(got - want).max() < 1e-9


def test_dct_roundtrip_identity():
    rng = np.random.RandomState(11)
    blk = rng.randint(-128, 128, size=(8, 8)).astype(np.float64)
    back = J._C.T @ (J._C @ blk @ J._C.T) @ J._C
    assert np.abs(back - blk).max() < 1e-9


def test_huffman_tables_are_valid_prefix_codes():
    for bits, vals in (J._DC_LUMA, J._AC_LUMA, J._DC_CHROMA, J._AC_CHROMA):
        assert sum(bits) == len(vals)
        codes = J._build_codes(bits, vals)
        # canonical codes at each length must fit in `length` bits and be
        # strictly increasing when left-aligned (prefix-free)
        aligned = sorted((c << (16 - ln), ln, c) for c, ln in codes.values())
        for (a1, l1, c1), (a2, l2, c2) in zip(aligned, aligned[1:]):
            assert a1 < a2
            # no code is a prefix of the next
            assert (a2 >> (16 - l1)) != c1
        for c, ln in codes.values():
            assert c < (1 << ln)


@pytest.mark.parametrize("quality", [50, 75, 95])
@pytest.mark.parametrize("color", [(200, 100, 50), (0, 0, 0), (255, 255, 255), (12, 200, 99)])
def test_solid_color_closed_form_matches_codec(quality, color):
    """decode(encode(solid)) == the cosine-free closed form, pixel-exact —
    the property the driver query's SQL twin relies on."""
    r, g, b = color
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = r, g, b
    payload = J.encode_jpeg(img, quality=quality)
    w, h, rgb = J.decode_jpeg_rgb(payload)
    assert (w, h) == (16, 16)
    want = J.solid_roundtrip_rgb(r, g, b, quality=quality)
    got = {tuple(px) for px in rgb.reshape(-1, 3)}
    assert got == {want}, (got, want, color, quality)


def test_gradient_roundtrip_psnr():
    """Lossy but faithful: a smooth gradient survives q75 with PSNR well
    above 30 dB; q95 beats q50."""
    h, w = 24, 40
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // (w + h - 2)),
        ],
        axis=-1,
    ).astype(np.uint8)

    def psnr(quality):
        _, _, back = J.decode_jpeg_rgb(J.encode_jpeg(img, quality=quality))
        mse = np.mean((back.astype(float) - img.astype(float)) ** 2)
        return 10 * math.log10(255**2 / mse)

    p50, p75, p95 = psnr(50), psnr(75), psnr(95)
    assert p75 > 30.0, p75
    assert p95 > p50, (p95, p50)


def test_nonmultiple_of_8_dimensions():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(13, 21, 3)).astype(np.uint8)
    w, h, back = J.decode_jpeg_rgb(J.encode_jpeg(img, quality=90))
    assert (w, h) == (21, 13)
    assert back.shape == (13, 21, 3)
    mse = np.mean((back.astype(float) - img.astype(float)) ** 2)
    assert mse < 600  # noise is the worst case for JPEG; bounded, not tiny


def test_header_probe_reads_encoder_output():
    """The existing marker-walking header probe (multimodal._probe_header)
    parses real encoder output — dims from the SOF0 segment."""
    from sneaky_data_matcher_spark.operators import multimodal as M

    img = np.zeros((8, 24, 3), dtype=np.uint8)
    payload = J.encode_jpeg(img)
    assert M.probe_image_header(payload) == ("jpeg", 24, 8)


def test_progressive_rejected_as_unsupported():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(J.encode_jpeg(img))
    # rewrite SOF0 (0xC0) marker to SOF2 (progressive)
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with pytest.raises(J.UnsupportedJPEG):
        J.decode_jpeg_rgb(bytes(payload))


def test_partial_scan_rejected_as_unsupported():
    """A scan covering fewer components than the frame (non-interleaved
    baseline) must route to UnsupportedJPEG, not decode as grayscale."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(J.encode_jpeg(img))
    i = payload.find(b"\xff\xda")
    assert payload[i + 4] == 3  # Ns after the 2-byte segment length
    payload[i + 4] = 1
    with pytest.raises(J.UnsupportedJPEG):
        J.decode_jpeg_rgb(bytes(payload))


def test_truncated_stream_raises():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = J.encode_jpeg(img)
    with pytest.raises(Exception):
        J.decode_jpeg_rgb(payload[: len(payload) // 3])


def test_quality75_dc_quants_match_oracle_constants():
    """The media_decode_jpeg DuckDB twin hardcodes qy=8 / qc=9 (IJG-scaled
    Annex-K DC quants at the fixture quality): a quality or table change
    must fail here before it silently breaks the driver hash."""
    from sneaky_data_matcher_spark.operators.multimodal import JPEG_QUALITY

    assert JPEG_QUALITY == 75
    assert int(J._scaled_quant(J.QUANT_LUMA, 75)[0]) == 8
    assert int(J._scaled_quant(J.QUANT_CHROMA, 75)[0]) == 9


def test_solid_fixture_refs_match_closed_form():
    """Every fixture media_ref's decoded solid color equals the closed
    form — the exact property the driver oracle hashes (incl. refs whose
    luma lands on a half-integer quantization tie)."""
    from sneaky_data_matcher_spark.operators import multimodal as M

    for i in range(40):
        ref = f"t:{i:04d}-x"
        _, w, h, r, g, b = M.jpeg_params(ref)
        _, _, rgb = J.decode_jpeg_rgb(M._jpeg_bytes(ref))
        got = {tuple(px) for px in rgb.reshape(-1, 3)}
        assert got == {J.solid_roundtrip_rgb(r, g, b, M.JPEG_QUALITY)}, ref


# ---------------------------------------------------------------------------
# Decoder branch coverage: 4:2:0 subsampling, grayscale, restart markers
# (the encoder options exist to exercise these general-decoder paths)
# ---------------------------------------------------------------------------


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // max(w + h - 2, 1)),
        ],
        axis=-1,
    ).astype(np.uint8)


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * math.log10(255**2 / mse)


def test_420_subsampling_roundtrip():
    """4:2:0: Y at 2×2 sampling, box-averaged chroma — decoder MCU
    geometry, multi-block-per-MCU ordering, and chroma upsampling."""
    img = _gradient(24, 40)
    payload = J.encode_jpeg(img, quality=90, subsampling="420")
    w, h, back = J.decode_jpeg_rgb(payload)
    assert (w, h) == (40, 24)
    assert _psnr(img, back) > 28.0  # chroma is quarter-res: a bit below 444


def test_420_nonmultiple_of_16_dims():
    img = _gradient(13, 21)  # MCU is 16×16 → partial MCUs both axes
    w, h, back = J.decode_jpeg_rgb(J.encode_jpeg(img, quality=90, subsampling="420"))
    assert (w, h) == (21, 13) and back.shape == (13, 21, 3)


def test_grayscale_roundtrip():
    """1-component scan: decoder's gray path replicates Y into RGB."""
    img = _gradient(16, 24)
    payload = J.encode_jpeg(img, quality=90, gray=True)
    w, h, back = J.decode_jpeg_rgb(payload)
    assert (w, h) == (24, 16)
    # all three channels equal (replicated Y)
    assert (back[..., 0] == back[..., 1]).all() and (back[..., 1] == back[..., 2]).all()
    want_y = (0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2])
    assert np.abs(back[..., 0].astype(float) - want_y).mean() < 6.0


def test_restart_markers_roundtrip():
    """DRI/RSTn: predictors reset + byte-aligned resume every n MCUs."""
    img = _gradient(24, 64)  # 3×8 = 24 MCUs at 4:4:4
    for ri in (1, 2, 5):
        payload = J.encode_jpeg(img, quality=90, restart_interval=ri)
        assert b"\xff\xdd" in payload  # DRI emitted
        assert any(bytes([0xFF, 0xD0 + n]) in payload for n in range(8))
        w, h, back = J.decode_jpeg_rgb(payload)
        assert (w, h) == (64, 24)
        assert _psnr(img, back) > 30.0, ri


def test_restart_markers_with_420():
    img = _gradient(33, 47)
    payload = J.encode_jpeg(img, quality=85, subsampling="420", restart_interval=2)
    w, h, back = J.decode_jpeg_rgb(payload)
    assert (w, h) == (47, 33)
    assert _psnr(img, back) > 26.0


def test_solid_closed_form_holds_under_420_and_restarts():
    """Flat blocks stay flat through downsampling, so the solid-color
    closed form holds for 4:2:0 and restart-interval streams too."""
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 180, 90, 40
    want = {J.solid_roundtrip_rgb(180, 90, 40, 75)}
    for kwargs in ({"subsampling": "420"}, {"restart_interval": 1},
                   {"subsampling": "420", "restart_interval": 1}):
        _, _, rgb = J.decode_jpeg_rgb(J.encode_jpeg(img, quality=75, **kwargs))
        assert {tuple(px) for px in rgb.reshape(-1, 3)} == want, kwargs


def test_jpeg_property_random_images_bounded_error():
    """Random images: every option combination decodes without error and
    with bounded distortion (noise is JPEG's worst case — assert a loose
    but real bound, and that dims always survive exactly)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=1, max_value=24),
        st.integers(min_value=0, max_value=2**31 - 1),
        st.sampled_from(["444", "420"]),
        st.sampled_from([0, 1, 3]),
        st.booleans(),
    )
    def prop(w, h, seed, sub, ri, gray):
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        payload = J.encode_jpeg(
            img, quality=90, subsampling=sub, restart_interval=ri, gray=gray
        )
        ww, hh, back = J.decode_jpeg_rgb(payload)
        assert (ww, hh) == (w, h) and back.shape == (h, w, 3)
        if gray or sub == "420":
            # gray drops chroma; 4:2:0 box-averages it (a 1×2 random
            # image legitimately loses most chroma) — luma carries the
            # comparable signal in both cases
            want = (
                0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
            )
            got = (
                0.299 * back[..., 0] + 0.587 * back[..., 1] + 0.114 * back[..., 2]
            )
            err = np.abs(got.astype(float) - want)
        else:
            err = np.abs(back.astype(float) - img.astype(float))
        assert err.mean() < 40.0  # random noise at q90; loose but real

    prop()
