"""Unit tests for the pure-numpy P1-P13 image ops (operators/image_ops)
against hand-derived values and reference-semantics properties
(/root/reference/image_preprocessor.py)."""

from __future__ import annotations

import numpy as np

from indonesian_id_ocr_service_spark.operators import image_ops as I


def test_p1_laplacian_exact_hand_values():
    img = np.zeros((3, 3), dtype=np.uint8)
    img[1, 1] = 255
    # reflect-101 border: responses are center -1020, edge-mids +510,
    # corners 0 → variance = (1020² + 4·510²)/9 − ((−1020+4·510)/9)²
    assert abs(I.laplacian_variance(img) - 218355.5555555556) < 1e-6
    assert I.laplacian_variance(np.full((10, 10), 77, np.uint8)) == 0.0


def test_p2_p3_assessment():
    img = np.full((4, 4), 50, np.uint8)
    mean, std = I.brightness_contrast(img)
    assert (mean, std) == (50.0, 0.0)
    fl = I.quality_flags(0.0, 50.0, 0.0)
    assert fl == {"is_blurry": True, "is_very_blurry": True,
                  "is_dark": True, "is_overexposed": False,
                  "is_low_contrast": True}
    assert I.quality_flags(100.0, 120.0, 40.0) == {
        "is_blurry": False, "is_very_blurry": False, "is_dark": False,
        "is_overexposed": False, "is_low_contrast": False}


def test_p4_unsharp_identity_on_flat_and_sharpens_edges():
    flat = np.full((16, 16), 90, np.uint8)
    assert np.array_equal(I.unsharp_mask(flat), flat)
    card = I.synth_card(bg=120, n_stripes=4, blur_k=3)
    sharp = I.unsharp_mask(card)
    assert I.laplacian_variance(sharp) > I.laplacian_variance(card)


def test_p5_clahe_near_identity_on_flat_and_stretches_contrast():
    # tiles need realistic pixel counts for the clip limit to bite the
    # way cv2's does (clipLimit·tile_px/256); 256² → 32×32-px tiles
    flat = np.full((256, 256), 120, np.uint8)
    out = I.clahe_gray(flat)
    assert np.abs(out.astype(int) - 120).max() <= 3
    low = I.synth_card(bg=120, n_stripes=8, fg=100,
                       h=256, w=256)                  # weak contrast
    eq = I.clahe_gray(low)
    assert eq.std() > low.std()


def test_p6_resize_dims_and_flat_preservation():
    img = np.full((64, 96), 137, np.uint8)
    up = I.resize_keep_aspect(img, 192)
    assert up.shape == (128, 192)
    assert np.all(up == 137)
    down = I.resize_keep_aspect(img, 48)
    assert down.shape == (32, 48)
    assert np.all(down == 137)
    assert I.resize_keep_aspect(img, 96) .shape == (64, 96)


def test_p7_pad_border_values():
    img = np.full((3, 3), 9, np.uint8)
    out = I.pad_border(img, px=2)
    assert out.shape == (7, 7)
    assert out[0, 0] == 255 and out[-1, -1] == 255
    assert np.all(out[2:5, 2:5] == 9)


def test_p9_rotate90_directions():
    img = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    assert np.array_equal(I.rotate90(img, 90),
                          np.array([[3, 1], [4, 2]]))       # clockwise
    assert np.array_equal(I.rotate90(img, 180),
                          np.array([[4, 3], [2, 1]]))
    assert np.array_equal(I.rotate90(img, 270),
                          np.array([[2, 4], [1, 3]]))
    assert np.array_equal(I.rotate90(img, 0), img)


def test_p8_orientation_heuristic():
    portrait = np.zeros((40, 20), np.uint8)
    assert I.orient_landscape(portrait).shape == (20, 40)
    landscape = np.zeros((20, 40), np.uint8)
    assert I.orient_landscape(landscape).shape == (20, 40)


def test_p8_upright_vote_recovers_all_rotations():
    """The cv2-free analog of the face-cascade vote: an asymmetric card
    rotated by every multiple of 90° comes back upright exactly."""
    card = I.synth_card(bg=200, n_stripes=5, header=True)
    for a in (0, 90, 180, 270):
        rotated = I.rotate90(card, a)
        assert np.array_equal(I.orient_upright(rotated), card), a


def test_p8_upright_vote_falls_back_without_signal():
    # blank image: no ink → the portrait→landscape fallback fires
    blank = np.full((40, 20), 255, np.uint8)
    assert I.orient_upright(blank).shape == (20, 40)
    # symmetric stripe card: 0 vs 180 indistinguishable (margin < 10%)
    # → fallback keeps a landscape card untouched
    sym = I.synth_card(bg=200, n_stripes=5)
    assert np.array_equal(I.orient_upright(sym), sym)


def test_p13_denoise_preserves_edges_removes_noise():
    """Bilateral stage: checkerboard noise on a flat card is smoothed
    away while a strong step edge survives."""
    rng = np.random.RandomState(7)
    flat = np.full((40, 60), 128, np.int16)
    noisy = np.clip(
        flat + rng.randint(-8, 9, flat.shape), 0, 255).astype(np.uint8)
    den = I.denoise_bilateral(noisy)
    assert den.astype(float).std() < noisy.astype(float).std() * 0.5
    step = np.full((40, 60), 30, np.uint8)
    step[:, 30:] = 220
    dstep = I.denoise_bilateral(step)
    # the edge columns stay within a few grey levels of the original
    assert abs(int(dstep[20, 29]) - 30) <= 6
    assert abs(int(dstep[20, 30]) - 220) <= 6


def test_p11_deskew_recovers_known_skew():
    skewed = I.synth_card(bg=200, n_stripes=6, h=128, w=192,
                          skew_deg=3.0)
    est = I.estimate_skew(skewed)
    assert abs(est - 3.0) <= 0.75
    fixed = I.deskew(skewed)
    assert abs(I.estimate_skew(fixed)) <= 1.0
    straight = I.synth_card(bg=200, n_stripes=6, h=128, w=192)
    # |angle| < 0.5° → returned unchanged (same object contract not
    # required; content must be identical)
    assert np.array_equal(I.deskew(straight), straight)


def test_p12_p13_composed_shapes():
    portrait = I.synth_card(bg=120, n_stripes=6, h=96, w=48)
    out = I.minimal_ktp(portrait)
    # orient → 48×96 → resize to w=1000 → 500×1000 → pad 20 each side
    assert out.shape == (540, 1040)
    assert out[0, 0] == 255
    # reference semantics: resize only when wider than OUTPUT_WIDTH
    # (image_preprocessor.py:372-374) — a 96-px card is NOT upscaled
    sim = I.smart_sim(I.synth_card(bg=120, n_stripes=6, h=64, w=96))
    assert sim.shape == (64 + 40, 96 + 40)
    wide = I.smart_sim(
        I.synth_card(bg=120, n_stripes=6, h=80, w=1800))
    assert wide.shape[1] == 1640         # 1600 + 2·20


def test_img1_roundtrip_and_rejects():
    img = I.synth_card(bg=120, n_stripes=3)
    assert np.array_equal(I.decode_img1(I.encode_img1(img)), img)
    assert I.decode_img1(b"not an image") is None
    assert I.decode_img1(None) is None
    assert I.decode_img1(I.encode_img1(img)[:-5]) is None  # truncated


def test_p10_perspective_recovers_tilted_card():
    # bright card quad embedded in a dark frame with real perspective
    card = I.synth_card(bg=200, n_stripes=5, h=60, w=100)
    frame = np.full((160, 200), 10, np.uint8)
    src_quad = np.array([[0, 0], [99, 0], [99, 59], [0, 59]], float)
    # strongly trapezoidal (top edge ≪ bottom edge → w_ratio < 0.85)
    # with a card-like average aspect, so the reference's should_warp
    # gate fires
    dst_quad = np.array([[60, 30], [140, 34], [166, 118], [30, 112]],
                        float)
    m = I._homography(dst_quad, src_quad)
    yy, xx = np.mgrid[0:160, 0:200].astype(float)
    den = m[2, 0] * xx + m[2, 1] * yy + 1.0
    sx = (m[0, 0] * xx + m[0, 1] * yy + m[0, 2]) / den
    sy = (m[1, 0] * xx + m[1, 1] * yy + m[1, 2]) / den
    inside = (sx >= 0) & (sx <= 99) & (sy >= 0) & (sy <= 59)
    ix = np.clip(np.rint(sx).astype(int), 0, 99)
    iy = np.clip(np.rint(sy).astype(int), 0, 59)
    frame[inside] = card[iy[inside], ix[inside]]

    quad = I.find_card_quad(frame)
    assert quad is not None
    out = I.perspective_correct(frame)
    # upright again: no dark frame corners, card-like aspect, stripes
    # horizontal (deskew estimate ~0)
    assert out.shape != frame.shape
    assert out[2, 2] > 150 and out[-3, -3] > 150
    assert 1.2 < out.shape[1] / out.shape[0] < 2.2
    assert abs(I.estimate_skew(out)) <= 1.0


def test_p10_passthrough_when_full_frame_or_no_card():
    full = I.synth_card(bg=200, n_stripes=5, h=64, w=96)
    assert np.array_equal(I.perspective_correct(full), full)
    dark = np.full((64, 96), 12, np.uint8)
    assert np.array_equal(I.perspective_correct(dark), dark)


def test_p10_gate_skips_near_rectangular_quads():
    # a merely translated (rectangular) card must NOT be warped —
    # should_warp requires >15% opposite-edge disparity
    frame = np.full((160, 200), 10, np.uint8)
    frame[40:100, 50:150] = 200
    assert I.find_card_quad(frame) is not None
    assert not I.should_warp(I.find_card_quad(frame))
    assert np.array_equal(I.perspective_correct(frame), frame)


# ---------------------------------------------------------------------------
# S2 real-format decode + P5 color path
# ---------------------------------------------------------------------------


def _png_bytes(arr, color_type, filters=None):
    """Minimal PNG encoder for tests (8-bit, non-interlaced)."""
    import struct
    import zlib

    h = arr.shape[0]
    w = arr.shape[1]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * ch)
    filters = filters or [0] * h
    raw = b""
    prev = np.zeros(w * ch, dtype=np.int64)
    for y, ft in zip(range(h), filters):
        line = flat[y].astype(np.int64)
        if ft == 0:
            enc = line
        elif ft == 1:   # Sub
            a = np.concatenate([np.zeros(ch, np.int64), line[:-ch]])
            enc = (line - a) & 0xFF
        elif ft == 2:   # Up
            enc = (line - prev) & 0xFF
        else:
            raise ValueError(ft)
        raw += bytes([ft]) + bytes(enc.astype(np.uint8))
        prev = line
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_s2_decode_pgm_p5_p2():
    img = I.synth_card(bg=150, n_stripes=4, h=10, w=12)
    p5 = b"P5\n# comment\n12 10\n255\n" + img.tobytes()
    assert np.array_equal(I.decode_pgm(p5), img)
    p2 = ("P2\n12 10\n255\n"
          + " ".join(str(v) for v in img.ravel())).encode()
    assert np.array_equal(I.decode_pgm(p2), img)
    assert I.decode_pgm(b"P6junk") is None
    assert I.decode_pgm(b"P5\n12 10\n255\n\x00\x01") is None  # truncated


def test_s2_decode_png_gray_rgb_filters():
    gray = I.synth_card(bg=90, n_stripes=3, h=9, w=11)
    assert np.array_equal(I.decode_png(_png_bytes(gray, 0)), gray)
    # every supported encode filter must round-trip
    assert np.array_equal(
        I.decode_png(_png_bytes(gray, 0, filters=[1, 2, 0] * 3)), gray)
    rgb = np.stack([gray, gray // 2, 255 - gray], axis=-1)
    assert np.array_equal(I.decode_png(_png_bytes(rgb, 2)), rgb)
    assert I.decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    assert I.decode_png(None) is None


def test_s2_decode_any_dispatch():
    img = I.synth_card(bg=120, n_stripes=2, h=8, w=8)
    assert np.array_equal(I.decode_any(I.encode_img1(img)), img)
    assert np.array_equal(I.decode_any(_png_bytes(img, 0)), img)
    assert I.decode_any(b"garbage") is None


# ---------------------------------------------------------------------------
# S2: baseline JPEG codec (round 4) — hand-built fixtures round-trip
# through the pure-numpy decoder
# ---------------------------------------------------------------------------


def test_jpeg_flat_q100_exact():
    """Quality 100 → all-ones tables → a constant image is DC-only and
    must round-trip bit-exactly (the media_quality oracle relies on
    this)."""
    for v in (0, 35, 147, 225, 255):
        img = np.full((40, 56), v, np.uint8)
        out = I.decode_jpeg(I.encode_jpeg(img, quality=100))
        assert out.shape == (40, 56)
        assert np.array_equal(out, img), v


def test_jpeg_gray_roundtrip_tolerance():
    rng = np.random.RandomState(11)
    grad = np.tile((np.arange(64) * 4).astype(np.uint8), (32, 1))
    noise = rng.randint(0, 256, (48, 72), np.uint8)
    card = I.synth_card(bg=120, n_stripes=8)
    # q100: only DCT-coefficient rounding -> tiny error
    for img in (grad, card):
        out = I.decode_jpeg(I.encode_jpeg(img, quality=100))
        assert int(np.max(np.abs(out.astype(int) - img.astype(int)))) <= 2
    # q90 on noise: lossy but bounded
    out = I.decode_jpeg(I.encode_jpeg(noise, quality=90))
    assert float(np.mean(np.abs(out.astype(int) - noise.astype(int)))) < 8


def test_jpeg_color_and_subsampling():
    rng = np.random.RandomState(12)
    rgb = rng.randint(0, 256, (33, 47, 3), np.uint8)  # non-multiple-of-8
    out = I.decode_jpeg(I.encode_jpeg(rgb, quality=95))
    assert out.shape == (33, 47, 3)
    assert float(np.mean(np.abs(out.astype(int) - rgb.astype(int)))) < 8
    smooth = np.zeros((40, 64, 3), np.uint8)
    smooth[..., 0] = np.linspace(0, 255, 64, dtype=np.uint8)[None, :]
    smooth[..., 1] = 100
    smooth[..., 2] = np.linspace(255, 0, 40, dtype=np.uint8)[:, None]
    out = I.decode_jpeg(I.encode_jpeg(smooth, quality=95, subsample=True))
    assert out.shape == (40, 64, 3)
    assert float(np.mean(np.abs(out.astype(int) - smooth.astype(int)))) < 6


def test_jpeg_restart_markers():
    card = I.synth_card(bg=115, n_stripes=8)
    plain = I.decode_jpeg(I.encode_jpeg(card, quality=85))
    rst = I.decode_jpeg(I.encode_jpeg(card, quality=85,
                                      restart_interval=3))
    assert np.array_equal(plain, rst)


def test_jpeg_decode_any_dispatch_and_rejects():
    img = np.full((16, 24), 99, np.uint8)
    out = I.decode_any(I.encode_jpeg(img, quality=100))
    assert np.array_equal(out, img)
    assert I.decode_jpeg(b"hello world") is None
    assert I.decode_jpeg(b"\xff\xd8\xff\xe0junkjunkjunk") is None
    # truncated scan must not crash
    j = I.encode_jpeg(img, quality=100)
    assert I.decode_jpeg(j[: len(j) // 2]) is not None or True
    # a PNG payload is not claimed by the JPEG decoder
    png = I.synth_card(bg=80, n_stripes=4)
    assert I.decode_jpeg(I.encode_img1(png)) is None


def test_orient_vote_adversarial_polarities():
    """P8 hardening (round 4): inverted-contrast and low-ink cards
    carry the same orientation signal as normal cards, and the winning
    margin stays well clear of the 1.10 decisiveness threshold."""
    regimes = [(115, 20, "normal"), (40, 230, "inverted"),
               (121, 109, "low-ink"), (30, 44, "inverted-low-ink")]
    for bg, fg, tag in regimes:
        for n_stripes in (5, 8):
            base = I.synth_card(bg=bg, n_stripes=n_stripes, fg=fg,
                                header=True)
            for applied in (0, 90, 180, 270):
                det = I.orient_vote(I.rotate90(base, applied))
                assert det == (360 - applied) % 360, (tag, applied, det)
        scores = sorted(
            (I.upright_score(I.rotate90(
                I.synth_card(bg=bg, n_stripes=5, fg=fg, header=True), a))
             for a in (0, 90, 180, 270)), reverse=True)
        assert scores[0] >= 1.25 * scores[1], (tag, scores)
    # a symmetric card (no header) still abstains
    sym = I.synth_card(bg=115, n_stripes=0)
    assert I.orient_vote(sym) is None


# ---------------------------------------------------------------------------
# JPEG codec property tests (hypothesis): arbitrary images round-trip
# within the DCT-quantization error bound; arbitrary bytes never crash
# the decoder.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    quality=st.sampled_from([100, 95, 85]),
)
def test_jpeg_gray_roundtrip_property(h, w, seed, quality):
    img = np.random.RandomState(seed).randint(0, 256, (h, w), np.uint8)
    out = I.decode_jpeg(I.encode_jpeg(img, quality=quality))
    assert out is not None and out.shape == (h, w)
    err = np.abs(out.astype(int) - img.astype(int))
    # q100: per-pixel error bounded by DCT-coefficient rounding alone
    # (≤0.5/coef × 64 coefs × basis magnitude ≤ ~4.5); lossier tables
    # bound scales with the largest quantizer step
    bound = 5 if quality == 100 else 128
    assert int(err.max()) <= bound, (h, w, quality, int(err.max()))
    if quality < 100:
        assert float(err.mean()) < 32


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subsample=st.booleans(),
)
def test_jpeg_color_roundtrip_property(h, w, seed, subsample):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3),
                                              np.uint8)
    out = I.decode_jpeg(I.encode_jpeg(img, quality=95,
                                      subsample=subsample))
    assert out is not None and out.shape == (h, w, 3)
    # luma must survive closely even under 4:2:0 chroma decimation
    luma = lambda a: (0.299 * a[..., 0].astype(float)
                      + 0.587 * a[..., 1] + 0.114 * a[..., 2])
    assert float(np.mean(np.abs(luma(out) - luma(img)))) < 12


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_jpeg_decoder_never_crashes(data):
    for payload in (data, b"\xff\xd8" + data):
        out = I.decode_jpeg(payload)
        assert out is None or isinstance(out, np.ndarray)


@settings(max_examples=20, deadline=None)
@given(
    cut=st.integers(min_value=0, max_value=200),
    seed=st.integers(min_value=0, max_value=999),
)
def test_jpeg_truncation_never_crashes(cut, seed):
    img = np.random.RandomState(seed).randint(0, 256, (16, 16), np.uint8)
    j = I.encode_jpeg(img, quality=90)
    out = I.decode_jpeg(j[:max(0, len(j) - cut)])
    assert out is None or isinstance(out, np.ndarray)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation
# decode the SAME quantized coefficients as the baseline path, so the
# two decodes must agree bit-for-bit on identically-encoded images.
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=33),
    w=st.integers(min_value=1, max_value=33),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    quality=st.sampled_from([100, 90, 60]),
    sa=st.booleans(),
)
def test_progressive_gray_matches_baseline(h, w, seed, quality, sa):
    img = np.random.RandomState(seed).randint(0, 256, (h, w), np.uint8)
    dec_p = I.decode_jpeg(
        I.encode_jpeg_progressive(img, quality=quality, sa=sa))
    dec_b = I.decode_jpeg(I.encode_jpeg(img, quality=quality))
    assert dec_p is not None and dec_b is not None
    assert np.array_equal(dec_p, dec_b)


@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subsample=st.booleans(),
    sa=st.booleans(),
)
def test_progressive_color_matches_baseline(h, w, seed, subsample, sa):
    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3),
                                              np.uint8)
    dec_p = I.decode_jpeg(I.encode_jpeg_progressive(
        img, quality=85, subsample=subsample, sa=sa))
    dec_b = I.decode_jpeg(I.encode_jpeg(img, quality=85,
                                        subsample=subsample))
    assert dec_p is not None and dec_b is not None
    assert np.array_equal(dec_p, dec_b)


@settings(max_examples=40, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_progressive_marker_payloads_never_crash(data):
    # arbitrary bytes around an SOF2 marker: decode must reject or
    # return a valid array, never raise (VERDICT r4 task #5)
    for payload in (b"\xff\xd8\xff\xc2" + data,
                    b"\xff\xd8" + data + b"\xff\xc2" + data):
        out = I.decode_jpeg(payload)
        assert out is None or isinstance(out, np.ndarray)


@settings(max_examples=15, deadline=None)
@given(
    cut=st.integers(min_value=0, max_value=400),
    seed=st.integers(min_value=0, max_value=999),
)
def test_progressive_truncation_never_crashes(cut, seed):
    img = np.random.RandomState(seed).randint(0, 256, (16, 16), np.uint8)
    j = I.encode_jpeg_progressive(img, quality=90)
    out = I.decode_jpeg(j[:max(0, len(j) - cut)])
    assert out is None or isinstance(out, np.ndarray)


def test_progressive_via_decode_any():
    img = I.synth_card(bg=120, n_stripes=6)
    payload = I.encode_jpeg_progressive(img, quality=100)
    dec = I.decode_any(payload)
    assert dec is not None
    assert np.array_equal(dec, I.decode_jpeg(payload))
