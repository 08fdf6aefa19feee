"""Pure-numpy image preprocessing ops (SURVEY §2.2 P1-P13).

Real implementations of the reference's quality assessment and
preprocessing math (/root/reference/image_preprocessor.py) for the ops
that don't require cv2-only machinery:

- P1 Laplacian-variance blur score      (:14-18)
- P2 brightness / contrast              (:20-30)
- P3 quality flags                      (:32-46)
- P4 unsharp mask                       (:53-57)
- P5 CLAHE (grayscale)                  (:60-69)
- P6 resize keep-aspect (bilinear)      (:93-99)
- P7 constant-border padding            (:143-149)
- P8 orientation (text-direction heuristic; the reference's face
  cascade needs cv2 data files)         (:177-201)
- P9 90° rotations                      (:204-209)
- P10 perspective correction: intensity-segmented corner quad →
  four-point homography warp (the reference walks Canny contours;
  same decision contract incl. the ≥95%-frame and min-area guards)
  (:212-242)
- P11 deskew: dominant text-line angle within ±15°, rotate when the
  weighted estimate ≥0.5° (projection-profile estimator standing in
  for HoughLinesP — same decision semantics)  (:268-308)
- P12 minimal KTP path: orient → resize(1000) → pad(20)   (:152-174)
- P13 SmartSIM path: perspective → deskew → CLAHE → unsharp →
  resize(1600) → pad  (:344-488)

Images are grayscale uint8 ndarrays. Payload columns decode through
``decode_any``: the IMG1 wire format (b"IMG1" + uint16be h + uint16be w
+ h·w uint8 pixels — a deterministic synthetic container), PNG (filters
0-4, gray/RGB/RGBA), baseline-sequential JPEG (pure-numpy Huffman +
IDCT, this file), and PGM — covering the reference's accepted upload
formats (app.py:31-33) without cv2.
"""

from __future__ import annotations

import math
import struct

import numpy as np

__all__ = [
    "encode_img1", "decode_img1", "synth_card",
    "encode_jpeg", "decode_jpeg", "decode_any",
    "laplacian_variance", "brightness_contrast", "quality_flags",
    "unsharp_mask", "clahe_gray", "resize_keep_aspect", "pad_border",
    "orient_landscape", "rotate90", "estimate_skew", "rotate",
    "deskew", "minimal_ktp", "smart_sim",
    "find_card_quad", "four_point_transform", "perspective_correct",
]

_MAGIC = b"IMG1"


# ---------------------------------------------------------------------------
# wire format + deterministic synthesis
# ---------------------------------------------------------------------------


def encode_img1(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    return _MAGIC + struct.pack(">HH", h, w) + img.tobytes()


def decode_img1(payload: bytes):
    """→ ndarray, or None when the payload isn't IMG1."""
    if payload is None or len(payload) < 8 or payload[:4] != _MAGIC:
        return None
    h, w = struct.unpack(">HH", payload[4:8])
    if len(payload) != 8 + h * w:
        return None
    return np.frombuffer(payload, dtype=np.uint8, offset=8).reshape(h, w)


def box_blur(img: np.ndarray, k: int) -> np.ndarray:
    """k×k box filter with reflect-101 borders (separable, integral)."""
    if k <= 1:
        return img.copy()
    r = k // 2
    x = np.pad(img.astype(np.float64), r, mode="reflect")
    x = np.cumsum(x, axis=0)
    x = (np.vstack([x[k - 1:k], x[k:] - x[:-k]])) / k
    x = np.cumsum(x, axis=1)
    x = (np.hstack([x[:, k - 1:k], x[:, k:] - x[:, :-k]])) / k
    return np.clip(np.rint(x), 0, 255).astype(np.uint8)


def synth_card(bg: int, n_stripes: int, h: int = 64, w: int = 96,
               fg: int = 20, blur_k: int = 0,
               skew_deg: float = 0.0, header: bool = False) -> np.ndarray:
    """Deterministic card-like test image: uniform background with
    ``n_stripes`` 2-px dark text lines; optional box blur and skew.
    ``header`` adds a thick title band near the top (the 'PROVINSI'
    header of a real card) — the asymmetry the orientation vote reads."""
    img = np.full((h, w), bg, dtype=np.uint8)
    for i in range(n_stripes):
        y = int((i + 1) * h / (n_stripes + 1))
        img[y:y + 2, 4:w - 4] = fg
    if header:
        img[2:max(3, h // 8), 8:w - 8] = fg
    if abs(skew_deg) > 1e-9:
        img = rotate(img, skew_deg)
    if blur_k > 1:
        img = box_blur(img, blur_k)
    return img


# ---------------------------------------------------------------------------
# P1-P3: quality assessment
# ---------------------------------------------------------------------------


def laplacian_variance(img: np.ndarray) -> float:
    """P1: variance of the 4-neighbour Laplacian (cv2.Laplacian's
    default 3×3 kernel [[0,1,0],[1,-4,1],[0,1,0]], reflect-101)."""
    x = np.pad(img.astype(np.float64), 1, mode="reflect")
    lap = (x[:-2, 1:-1] + x[2:, 1:-1] + x[1:-1, :-2] + x[1:-1, 2:]
           - 4.0 * x[1:-1, 1:-1])
    return float(lap.var())


def brightness_contrast(img: np.ndarray) -> tuple:
    """P2: (mean, std) of gray pixels."""
    f = img.astype(np.float64)
    return float(f.mean()), float(f.std())


def quality_flags(blur: float, brightness: float, contrast: float) -> dict:
    """P3 thresholds (image_preprocessor.py:32-46)."""
    return {
        "is_blurry": blur < 80,
        "is_very_blurry": blur < 30,
        "is_dark": brightness < 60,
        "is_overexposed": brightness > 210,
        "is_low_contrast": contrast < 30,
    }


# ---------------------------------------------------------------------------
# P4-P5: enhancement
# ---------------------------------------------------------------------------


def _gaussian_blur(img: np.ndarray, sigma: float) -> np.ndarray:
    r = max(1, int(math.ceil(3.0 * sigma)))
    xs = np.arange(-r, r + 1, dtype=np.float64)
    k = np.exp(-(xs ** 2) / (2.0 * sigma * sigma))
    k /= k.sum()
    f = img.astype(np.float64)
    p = np.pad(f, ((r, r), (0, 0)), mode="reflect")
    f = sum(k[i] * p[i:i + img.shape[0], :] for i in range(2 * r + 1))
    p = np.pad(f, ((0, 0), (r, r)), mode="reflect")
    f = sum(k[i] * p[:, i:i + img.shape[1]] for i in range(2 * r + 1))
    return f


def unsharp_mask(img: np.ndarray, strength: float = 1.5) -> np.ndarray:
    """P4 (image_preprocessor.py:53-57): img·(1+s) − blur·s, clipped,
    with a σ = 0.8 Gaussian blur."""
    blurred = _gaussian_blur(img, 0.8)
    sharp = img.astype(np.float64) * (1.0 + strength) - blurred * strength
    return np.clip(np.rint(sharp), 0, 255).astype(np.uint8)


def clahe_gray(img: np.ndarray, clip_limit: float = 3.0) -> np.ndarray:
    """P5: contrast-limited adaptive histogram equalization on gray
    (the reference applies it to LAB-L; single-channel here) over an
    8×8 tile grid. Tile histograms clipped at clip_limit×(tile_px/256),
    excess redistributed, per-tile CDF mappings bilinearly
    interpolated."""
    h, w = img.shape
    gh = gw = 8
    ys = np.linspace(0, h, gh + 1).astype(int)
    xs = np.linspace(0, w, gw + 1).astype(int)
    luts = np.zeros((gh, gw, 256), dtype=np.float64)
    for i in range(gh):
        for j in range(gw):
            tile = img[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
            n = max(tile.size, 1)
            hist = np.bincount(tile.ravel(), minlength=256).astype(
                np.float64)
            limit = max(1.0, clip_limit * n / 256.0)
            excess = np.clip(hist - limit, 0, None).sum()
            hist = np.minimum(hist, limit) + excess / 256.0
            cdf = np.cumsum(hist)
            luts[i, j] = np.clip(np.rint(cdf * 255.0 / n), 0, 255)
    cy = (ys[:-1] + ys[1:]) / 2.0
    cx = (xs[:-1] + xs[1:]) / 2.0
    yy = np.arange(h, dtype=np.float64)[:, None]
    xx = np.arange(w, dtype=np.float64)[None, :]
    iy = np.clip(np.searchsorted(cy, yy.ravel()) - 1, 0, gh - 2)
    ix = np.clip(np.searchsorted(cx, xx.ravel()) - 1, 0, gw - 2)
    iy = iy.reshape(h, 1)
    ix = ix.reshape(1, w)
    fy = np.clip((yy - cy[iy]) / np.maximum(cy[iy + 1] - cy[iy], 1e-9),
                 0, 1)
    fx = np.clip((xx - cx[ix]) / np.maximum(cx[ix + 1] - cx[ix], 1e-9),
                 0, 1)
    v = img.astype(np.intp)
    t00 = luts[iy, ix, v]
    t01 = luts[iy, ix + 1, v]
    t10 = luts[iy + 1, ix, v]
    t11 = luts[iy + 1, ix + 1, v]
    out = ((1 - fy) * ((1 - fx) * t00 + fx * t01)
           + fy * ((1 - fx) * t10 + fx * t11))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# S2: real-format decode (pure Python — cv2.imdecode's role for the
# formats this sandbox can honestly support: PGM P2/P5, PNG 8-bit
# grayscale / RGB / RGBA, non-interlaced; document_processor.py:260-262)
# ---------------------------------------------------------------------------


def decode_pgm(payload: bytes):
    """Binary (P5) or ASCII (P2) PGM → grayscale ndarray, or None."""
    if payload is None or len(payload) < 2 or payload[:1] != b"P":
        return None
    kind = payload[:2]
    if kind not in (b"P2", b"P5"):
        return None
    # header tokens: magic, width, height, maxval (comments start '#')
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i:i + 1]
        if c == b"#":
            while i < len(payload) and payload[i:i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j:j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    if len(tokens) < 3:
        return None
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if not (0 < w and 0 < h and 0 < maxval <= 255):
        return None
    if kind == b"P5":
        i += 1  # single whitespace after maxval
        data = payload[i:i + w * h]
        if len(data) != w * h:
            return None
        img = np.frombuffer(data, dtype=np.uint8).reshape(h, w)
    else:
        try:
            vals = np.array(payload[i:].split(), dtype=np.int64)
        except ValueError:
            return None
        if vals.size != w * h:
            return None
        img = vals.reshape(h, w).astype(np.uint8)
    if maxval != 255:
        img = np.clip(np.rint(img.astype(np.float64) * 255.0 / maxval),
                      0, 255).astype(np.uint8)
    return img


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, h: int, w: int, ch: int):
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos:pos + stride],
                             dtype=np.uint8).astype(np.int64)
        pos += stride
        cur = np.zeros(stride, dtype=np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 2:            # Up
            cur = (line + prev) & 0xFF
        else:                       # Sub / Average / Paeth need a scan
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                else:
                    return None
                cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(payload: bytes):
    """8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA) →
    ndarray (h,w) or (h,w,3); alpha dropped. None when not decodable."""
    import zlib

    if payload is None or len(payload) < 8 + 25 \
            or payload[:8] != _PNG_MAGIC:
        return None
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None or depth != 8 or comp or filt or interlace:
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    if len(raw) != h * (w * channels + 1):
        return None
    flat = _png_unfilter(raw, h, w, channels)
    if flat is None:
        return None
    px = flat.reshape(h, w, channels)
    if channels == 1:
        return px[..., 0]
    if channels == 2:
        return px[..., 0]
    return px[..., :3]


# ---------------------------------------------------------------------------
# Baseline-sequential JPEG codec (ITU-T T.81) — pure numpy/Python.
#
# S2: the reference accepts png/jpg/jpeg uploads (app.py:13,31-33;
# document_processor.py:260-262 does cv2.imdecode). PNG/PGM landed in
# round 3; this closes the JPEG gap without cv2: baseline sequential
# DCT, 8-bit, grayscale or YCbCr with 1x1/2x1/1x2/2x2 sampling
# factors, restart markers, JFIF color math. The decoder is Huffman →
# dequant → batch 8x8 IDCT (one einsum over all blocks of a
# component) → chroma upsample → YCbCr→RGB. The matching encoder
# exists to build deterministic test fixtures (and at quality=100 the
# Annex-K-scaled tables become all-ones, so flat blocks round-trip
# EXACTLY — which the media_quality oracle regime exploits).
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: Annex K.1 base quantization tables (luminance, chrominance)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103,
    99], dtype=np.int64)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: Annex K.3 typical Huffman tables as (bits[1..16], huffval)
_HT_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
               list(range(12)))
_HT_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                 list(range(12)))
_HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C with C[u,x] =
    0.5·c(u)·cos((2x+1)uπ/16); 2-D: F = C·B·Cᵀ, B = Cᵀ·F·C."""
    x = np.arange(8)
    c = np.full(8, 0.5)
    c[0] = 0.5 / math.sqrt(2.0)
    return c[:, None] * np.cos((2 * x[None, :] + 1)
                               * np.arange(8)[:, None] * math.pi / 16.0)


_DCT_C = _dct_basis()


def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: Q50 = base, Q100 = all ones."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _huff_codes(bits, huffval):
    """Canonical Huffman code assignment (T.81 C.2): symbol →
    (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits, huffval):
    """(length, code) → symbol for bit-serial decoding."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """Entropy-coded-segment reader: un-stuffs FF00, stops at markers,
    exposes restart-marker consumption."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> bool:
        d = self.data
        p = self.pos
        if p >= len(d):
            return False
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else None
            if nxt == 0x00:
                self.pos = p + 2
            else:
                self.marker = nxt
                return False     # a real marker ends the segment
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            return 0             # T.81 F.2.2.5: pad past the segment
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def restart(self) -> bool:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            # _fill detected the marker but never consumed it: pos still
            # points at the 0xFF byte. Advance past FF Dn here, or the
            # next _fill re-detects the same marker and the reader emits
            # zero-padding forever on malformed/truncated streams.
            if (p + 1 < len(d) and d[p] == 0xFF
                    and d[p + 1] == self.marker):
                self.pos = p + 2
            self.marker = None
            return True
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2
            return True
        return False


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1: map an n-bit magnitude to its signed value."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(payload: bytes):
    """JPEG → grayscale (h,w) or RGB (h,w,3) uint8; None when the
    payload is not decodable. Covers baseline-sequential (SOF0) AND
    progressive (SOF2: spectral selection, successive approximation,
    EOBRUN, interleaved DC / non-interleaved AC scans — T.81 Annex G);
    other SOF processes are rejected."""
    d = payload
    if len(d) < 4 or d[0] != 0xFF or d[1] != 0xD8:
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    scans_seen = 0
    pos = 2
    try:
        while pos + 2 <= len(d):
            if d[pos] != 0xFF:
                return None
            marker = d[pos + 1]
            if marker == 0xD9:                      # EOI
                if progressive and scans_seen:
                    return _finish_progressive(h, w, comps, qt)
                return None
            if marker == 0xFF:                      # fill byte
                pos += 1
                continue
            if pos + 4 > len(d):
                return None
            seg_len = (d[pos + 2] << 8) | d[pos + 3]
            body = d[pos + 4:pos + 2 + seg_len]
            nxt = pos + 2 + seg_len
            if marker == 0xDB:                      # DQT
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0x0F
                    if pq != 0:
                        return None                 # 8-bit only
                    tbl = np.zeros(64, dtype=np.int64)
                    tbl[_ZIGZAG] = np.frombuffer(
                        body[i + 1:i + 65], dtype=np.uint8)
                    qt[tq] = tbl.reshape(8, 8)
                    i += 65
            elif marker == 0xC4:                    # DHT
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 0x0F
                    bits = list(body[i + 1:i + 17])
                    n = sum(bits)
                    huffval = list(body[i + 17:i + 17 + n])
                    huff[(tc, th)] = _huff_decode_map(bits, huffval)
                    i += 17 + n
            elif marker in (0xC0, 0xC2):            # SOF0 / SOF2
                progressive = marker == 0xC2
                if body[0] != 8:
                    return None
                h = (body[1] << 8) | body[2]
                w = (body[3] << 8) | body[4]
                for c in range(body[5]):
                    cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                                  "tq": tq})
                if progressive:
                    _init_prog_storage(h, w, comps)
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None      # unsupported SOF process
            elif marker == 0xDD:                    # DRI
                restart_interval = (body[0] << 8) | body[1]
            elif marker == 0xDA:                    # SOS
                ns = body[0]
                scan_comps = []
                for c in range(ns):
                    cid, tda = body[1 + 2 * c], body[2 + 2 * c]
                    for comp in comps:
                        if comp["id"] == cid:
                            comp["td"], comp["ta"] = tda >> 4, tda & 15
                            scan_comps.append(comp)
                if not progressive:
                    return _decode_scan(d, nxt, h, w, comps, qt, huff,
                                        restart_interval)
                ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                nxt = _decode_prog_scan(
                    d, nxt, h, w, comps, scan_comps, huff,
                    ss, se, ahal >> 4, ahal & 0x0F, restart_interval)
                if nxt is None:
                    return None
                scans_seen += 1
            pos = nxt
    except (IndexError, ValueError, KeyError):
        return None
    return None


def _init_prog_storage(h, w, comps):
    """Per-component MCU-padded zigzag coefficient store, accumulated
    across scans."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["zz"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
        # true (non-MCU-padded) block dims for non-interleaved scans
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        c["nbw"] = (cw + 7) // 8
        c["nbh"] = (ch + 7) // 8
    comps[0]["_mcus"] = (mcus_x, mcus_y)


def _refine_nonzero(zz, k, p1, br):
    """One correction bit for a history-nonzero coefficient
    (T.81 G.1.2.3; bit test works on negatives via two's complement)."""
    if br.read_bit() and (int(zz[k]) & p1) == 0:
        zz[k] += p1 if zz[k] > 0 else -p1


def _decode_prog_scan(d, pos, h, w, comps, scan_comps, huff,
                      ss, se, ah, al, restart_interval):
    """One progressive scan; returns the position of the next marker
    (or None on corruption). DC scans may be interleaved over all
    components; AC scans are single-component (T.81 G.1)."""
    br = _BitReader(d, pos)
    eobrun = 0
    is_dc = ss == 0
    if is_dc:
        hmax = max(c["h"] for c in comps)
        mcus_x, mcus_y = comps[0]["_mcus"]
        if len(scan_comps) > 1:
            units = mcus_x * mcus_y
        else:
            c = scan_comps[0]
            units = c["nbw"] * c["nbh"]
        for c in scan_comps:
            c["pred"] = 0
        for m in range(units):
            if restart_interval and m and m % restart_interval == 0:
                if not br.restart():
                    return None
                for c in scan_comps:
                    c["pred"] = 0
            if len(scan_comps) > 1:
                my, mx = divmod(m, mcus_x)
                for c in scan_comps:
                    dc_tbl = huff[(0, c["td"])] if ah == 0 else None
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = my * c["v"] + by
                            col = mx * c["h"] + bx
                            zz = c["zz"][row * c["bw"] + col]
                            _dc_unit(zz, c, dc_tbl, br, ah, al)
            else:
                c = scan_comps[0]
                dc_tbl = huff[(0, c["td"])] if ah == 0 else None
                row, col = divmod(m, c["nbw"])
                zz = c["zz"][row * c["bw"] + col]
                _dc_unit(zz, c, dc_tbl, br, ah, al)
    else:
        if len(scan_comps) != 1:
            return None
        c = scan_comps[0]
        ac_tbl = huff[(1, c["ta"])]
        p1 = 1 << al
        for m in range(c["nbw"] * c["nbh"]):
            if restart_interval and m and m % restart_interval == 0:
                if not br.restart():
                    return None
                eobrun = 0
            row, col = divmod(m, c["nbw"])
            zz = c["zz"][row * c["bw"] + col]
            if ah == 0:
                # --- AC first pass (G.1.2.2) ---
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.decode_symbol(ac_tbl)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16              # ZRL
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += r
                    if k > se:
                        return None
                    zz[k] = _extend(br.receive(s), s) << al
                    k += 1
            else:
                # --- AC refinement pass (G.1.2.3) ---
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = br.decode_symbol(ac_tbl)
                        r, s = rs >> 4, rs & 0x0F
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.receive(r)
                                break
                            # r == 15: skip 16 zero-history coeffs
                        else:
                            val = p1 if br.read_bit() else -p1
                        while k <= se:
                            if zz[k] != 0:
                                _refine_nonzero(zz, k, p1, br)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            zz[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zz[k] != 0:
                            _refine_nonzero(zz, k, p1, br)
                        k += 1
                    eobrun -= 1
    # locate the next marker after this scan's entropy data (skip
    # stuffed 0xFF00, restart markers, and 0xFF fill bytes)
    p = br.pos
    while p + 1 < len(d):
        if d[p] != 0xFF:
            p += 1
            continue
        nxt_b = d[p + 1]
        if nxt_b == 0x00:
            p += 2
            continue
        if 0xD0 <= nxt_b <= 0xD7:
            p += 2
            continue
        if nxt_b == 0xFF:
            p += 1
            continue
        return p
    return None


def _dc_unit(zz, c, dc_tbl, br, ah, al):
    if ah == 0:                                    # DC first (G.1.2.1)
        t = br.decode_symbol(dc_tbl)
        diff = _extend(br.receive(t), t)
        c["pred"] += diff
        zz[0] = c["pred"] << al
    else:                                          # DC refine (G.1.2.1)
        zz[0] |= br.read_bit() << al


def _finish_progressive(h, w, comps, qt):
    """Accumulated zigzag coefficients → dequantize → IDCT → planes →
    image (same finishing math as the baseline path)."""
    if not comps or h == 0 or w == 0:
        return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        n = c["zz"].shape[0]
        nat = np.zeros((n, 64), dtype=np.float64)
        nat[:, _ZIGZAG] = c["zz"]
        coef = nat.reshape(n, 8, 8) * qt[c["tq"]][np.newaxis, :, :]
        px = np.einsum("ux,nuv,vy->nxy", _DCT_C, coef, _DCT_C)
        px = np.clip(np.rint(px) + 128, 0, 255).astype(np.uint8)
        plane = (px.reshape(c["bh"], c["bw"], 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c["bh"] * 8, c["bw"] * 8))
        plane = plane.repeat(vmax // c["v"], axis=0).repeat(
            hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        return None
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_scan(d, pos, h, w, comps, qt, huff, restart_interval):
    if not comps or h == 0 or w == 0:
        return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    for c in comps:
        c["bw"] = mcus_x * c["h"]         # blocks per row
        c["bh"] = mcus_y * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 8, 8), dtype=np.float64)
        c["pred"] = 0
    br = _BitReader(d, pos)
    n_mcu = mcus_x * mcus_y
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            if not br.restart():
                return None
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(m, mcus_x)
        for c in comps:
            dc_tbl = huff[(0, c["td"])]
            ac_tbl = huff[(1, c["ta"])]
            q = qt[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    t = br.decode_symbol(dc_tbl)
                    diff = _extend(br.receive(t), t)
                    c["pred"] += diff
                    zz[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = br.decode_symbol(ac_tbl)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16          # ZRL
                                continue
                            break                # EOB
                        k += r
                        if k > 63:
                            return None
                        zz[k] = _extend(br.receive(s), s)
                        k += 1
                    blk = np.zeros(64, dtype=np.int64)
                    blk[_ZIGZAG] = zz
                    row = my * c["v"] + by
                    col = mx * c["h"] + bx
                    c["coef"][row * c["bw"] + col] = blk.reshape(8, 8) * q
    planes = []
    for c in comps:
        # batch IDCT over every block of the component: B = Cᵀ·F·C
        px = np.einsum("ux,nuv,vy->nxy", _DCT_C, c["coef"], _DCT_C)
        px = np.clip(np.rint(px) + 128, 0, 255).astype(np.uint8)
        plane = (px.reshape(c["bh"], c["bw"], 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c["bh"] * 8, c["bw"] * 8))
        # nearest-neighbour chroma upsample to full resolution
        plane = plane.repeat(vmax // c["v"], axis=0).repeat(
            hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return planes[0]
    if len(planes) != 3:
        return None
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)       # byte stuffing

    def pad(self) -> None:
        if self.nbits:
            self.put(0x7F, 8 - self.nbits)  # 1-fill to byte boundary


def _encode_block(bw, blk, q, dc_codes, ac_codes, pred):
    """Forward DCT → quantize → Huffman-encode one 8×8 block; returns
    the new DC predictor."""
    f = _DCT_C @ (blk.astype(np.float64) - 128.0) @ _DCT_C.T
    zz = np.rint(f / q).astype(np.int64).reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    mag = abs(diff)
    t = mag.bit_length()
    code, length = dc_codes[t]
    bw.put(code, length)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]
            bw.put(c, ln)
            run -= 16
        s = abs(v).bit_length()
        c, ln = ac_codes[(run << 4) | s]
        bw.put(c, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]
        bw.put(c, ln)
    return int(zz[0])


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsample: bool = False,
                restart_interval: int = 0) -> bytes:
    """Baseline-sequential JPEG encoder (fixture builder for the
    decoder's round-trip tests; Annex K tables, quality-scaled).
    Grayscale (h,w) or RGB (h,w,3); ``subsample`` → 4:2:0."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scaled_qtable(_QT_LUMA.reshape(8, 8), quality)
    qc = _scaled_qtable(_QT_CHROMA.reshape(8, 8), quality)
    out = bytearray(b"\xff\xd8")                       # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend((0xFF, marker))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in ([(0, qy)] if gray else [(0, qy), (1, qc)]):
        zz = q.reshape(64)[_ZIGZAG].astype(np.uint8)
        seg(0xDB, bytes([tq]) + zz.tobytes())
    if gray:
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes(
            [1, 1, 0x11, 0])
    else:
        sf = 0x22 if subsample else 0x11
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes(
            [3, 1, sf, 0, 2, 0x11, 1, 3, 0x11, 1])
    seg(0xC0, sof)
    tables = ([(0x00, _HT_DC_LUMA), (0x10, _HT_AC_LUMA)] if gray else
              [(0x00, _HT_DC_LUMA), (0x10, _HT_AC_LUMA),
               (0x01, _HT_DC_CHROMA), (0x11, _HT_AC_CHROMA)])
    for tid, (bits, vals) in tables:
        seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    if gray:
        seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        planes = [(img, qy, _huff_codes(*_HT_DC_LUMA),
                   _huff_codes(*_HT_AC_LUMA), 1, 1)]
    else:
        seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        rgb = img.astype(np.float64)
        y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
             + 0.114 * rgb[..., 2])
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
            + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
            - 0.081312 * rgb[..., 2]
        y, cb, cr = (np.clip(np.rint(p), 0, 255).astype(np.uint8)
                     for p in (y, cb, cr))
        if subsample:
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            sub = []
            for p in (cb, cr):
                pad = np.pad(p.astype(np.float64),
                             ((0, eh - h), (0, ew - w)), mode="edge")
                box = (pad[0::2, 0::2] + pad[1::2, 0::2]
                       + pad[0::2, 1::2] + pad[1::2, 1::2]) / 4.0
                sub.append(np.clip(np.rint(box), 0, 255).astype(np.uint8))
            cb, cr = sub
        dcl, acl = _huff_codes(*_HT_DC_LUMA), _huff_codes(*_HT_AC_LUMA)
        dcc, acc_ = _huff_codes(*_HT_DC_CHROMA), _huff_codes(*_HT_AC_CHROMA)
        sf = 2 if subsample else 1
        planes = [(y, qy, dcl, acl, sf, sf),
                  (cb, qc, dcc, acc_, 1, 1),
                  (cr, qc, dcc, acc_, 1, 1)]
    hmax = max(p[4] for p in planes)
    vmax = max(p[5] for p in planes)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for p, q, dc, ac, sh, sv in planes:
        ph, pw = mcus_y * sv * 8, mcus_x * sh * 8
        pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                    mode="edge")
        padded.append({"px": pp, "q": q, "dc": dc, "ac": ac,
                       "h": sh, "v": sv, "pred": 0})
    bw = _BitWriter()
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.pad()
            bw.out.extend((0xFF, 0xD0 + (rst & 7)))
            rst += 1
            for c in padded:
                c["pred"] = 0
        my, mx = divmod(m, mcus_x)
        for c in padded:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    blk = c["px"][y0:y0 + 8, x0:x0 + 8]
                    c["pred"] = _encode_block(
                        bw, blk, c["q"], c["dc"], c["ac"], c["pred"])
    bw.pad()
    out.extend(bw.out)
    out.extend((0xFF, 0xD9))                           # EOI
    return bytes(out)


# flat 8-bit AC Huffman table for progressive scans: Annex K AC tables
# lack the EOBn symbols (0x10..0xE0) progressive EOB runs need, so the
# fixture encoder ships all 255 one-byte RS values at code length 8
# (code 0xFF stays unused per convention)
_HT_AC_FLAT = ([0] * 7 + [255] + [0] * 8, list(range(255)))


def _comp_zz_blocks(plane, q, sh, sv, mcus_x, mcus_y):
    """All quantized zigzag blocks of one component, MCU-padded, in
    (row-major block) order: (n_blocks, 64) int64."""
    ph, pw = mcus_y * sv * 8, mcus_x * sh * 8
    pp = np.pad(plane.astype(np.float64),
                ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge")
    bh, bw_ = ph // 8, pw // 8
    blocks = (pp.reshape(bh, 8, bw_, 8).transpose(0, 2, 1, 3)
              .reshape(bh * bw_, 8, 8) - 128.0)
    # same matmul association as the baseline _encode_block
    # ((C @ blk) @ C.T): einsum's different summation order flips
    # rint() at exact-.5 boundaries, desyncing the two encoders by
    # one quantization step on scattered coefficients
    f = np.matmul(np.matmul(_DCT_C, blocks), _DCT_C.T)
    zzq = np.rint(f / q[np.newaxis, :, :]).astype(np.int64)
    # zigzag GET order matches the baseline _encode_block:
    # zz[i] = natural[_ZIGZAG[i]]
    return zzq.reshape(-1, 64)[:, _ZIGZAG], bh, bw_


class _ProgACWriter:
    """AC scan emitter with EOB-run + refinement-bit buffering
    (T.81 G.1.2.2/G.1.2.3; same structure as the classic free
    implementations of the spec)."""

    def __init__(self, bw: _BitWriter, codes: dict):
        self.bw = bw
        self.codes = codes
        self.eobrun = 0
        self.bb: list[int] = []      # correction bits pending with EOB

    def sym(self, rs: int) -> None:
        c, ln = self.codes[rs]
        self.bw.put(c, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.sym(r << 4)
            if r:
                self.bw.put(self.eobrun - (1 << r), r)
            for b in self.bb:
                self.bw.put(b, 1)
            self.bb = []
            self.eobrun = 0

    def first_block(self, vals, ss, se, al) -> None:
        band = [int(v) for v in vals[ss:se + 1]]
        shifted = [(-((-v) >> al) if v < 0 else v >> al) for v in band]
        if not any(shifted):
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()
            return
        self.flush_eobrun()
        r = 0
        for v in shifted:
            if v == 0:
                r += 1
                continue
            while r > 15:
                self.sym(0xF0)
                r -= 16
            s = abs(v).bit_length()
            self.sym((r << 4) | s)
            self.bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
        if r > 0:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()

    def refine_block(self, vals, ss, se, al) -> None:
        band = [int(v) for v in vals[ss:se + 1]]
        absv = [abs(v) >> al for v in band]
        eob = -1
        for i, a in enumerate(absv):
            if a == 1:
                eob = i
        r = 0
        br_bits: list[int] = []
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                self.flush_eobrun()
                self.sym(0xF0)
                r -= 16
                for b in br_bits:
                    self.bw.put(b, 1)
                br_bits = []
            if a > 1:
                br_bits.append(a & 1)
                continue
            self.flush_eobrun()
            self.sym((r << 4) | 1)
            self.bw.put(1 if band[i] > 0 else 0, 1)
            for b in br_bits:
                self.bw.put(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            self.eobrun += 1
            self.bb.extend(br_bits)
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()


def encode_jpeg_progressive(img: np.ndarray, quality: int = 90,
                            subsample: bool = False,
                            sa: bool = True) -> bytes:
    """Progressive JPEG encoder (fixture builder for decode_jpeg's
    SOF2 round-trip tests). Scan script: interleaved DC first
    (+ DC refinement when ``sa``), then per-component spectral AC
    bands 1-5 and 6-63 (at Al=1 with an Ah=1 refinement scan when
    ``sa``, at Al=0 otherwise)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qy = _scaled_qtable(_QT_LUMA.reshape(8, 8), quality)
    qc = _scaled_qtable(_QT_CHROMA.reshape(8, 8), quality)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend((0xFF, marker))
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)

    seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in ([(0, qy)] if gray else [(0, qy), (1, qc)]):
        zzt = q.reshape(64)[_ZIGZAG].astype(np.uint8)
        seg(0xDB, bytes([tq]) + zzt.tobytes())
    if gray:
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes(
            [1, 1, 0x11, 0])
    else:
        sf = 0x22 if subsample else 0x11
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes(
            [3, 1, sf, 0, 2, 0x11, 1, 3, 0x11, 1])
    seg(0xC2, sof)                                     # SOF2
    tables = ([(0x00, _HT_DC_LUMA), (0x10, _HT_AC_FLAT)] if gray else
              [(0x00, _HT_DC_LUMA), (0x10, _HT_AC_FLAT),
               (0x01, _HT_DC_CHROMA), (0x11, _HT_AC_FLAT)])
    for tid, (bits, vals) in tables:
        seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))

    # component planes (same color path as the baseline encoder)
    if gray:
        planes = [(img, qy, 1, 1, 0)]
    else:
        rgb = img.astype(np.float64)
        y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
             + 0.114 * rgb[..., 2])
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
            + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
            - 0.081312 * rgb[..., 2]
        y, cb, cr = (np.clip(np.rint(p), 0, 255).astype(np.uint8)
                     for p in (y, cb, cr))
        if subsample:
            eh, ew = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            sub = []
            for p in (cb, cr):
                pad = np.pad(p.astype(np.float64),
                             ((0, eh - h), (0, ew - w)), mode="edge")
                box = (pad[0::2, 0::2] + pad[1::2, 0::2]
                       + pad[0::2, 1::2] + pad[1::2, 1::2]) / 4.0
                sub.append(np.clip(np.rint(box), 0, 255).astype(np.uint8))
            cb, cr = sub
        sfy = 2 if subsample else 1
        planes = [(y, qy, sfy, sfy, 0), (cb, qc, 1, 1, 1),
                  (cr, qc, 1, 1, 1)]
    hmax = max(p[2] for p in planes)
    vmax = max(p[3] for p in planes)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    comps = []
    for ci, (plane, q, sh, sv, tbl) in enumerate(planes):
        zz, bh, bw_ = _comp_zz_blocks(plane, q, sh, sv, mcus_x, mcus_y)
        cw = (w * sh + hmax - 1) // hmax
        ch = (h * sv + vmax - 1) // vmax
        comps.append({"cid": ci + 1, "zz": zz, "h": sh, "v": sv,
                      "bw": bw_, "tbl": tbl,
                      "nbw": (cw + 7) // 8, "nbh": (ch + 7) // 8})
    dc_codes = [_huff_codes(*_HT_DC_LUMA), _huff_codes(*_HT_DC_CHROMA)]
    ac_codes = _huff_codes(*_HT_AC_FLAT)
    dc_al = 1 if sa else 0
    ac_al = 1 if sa else 0

    def sos(scomps, ss, se, ah, al):
        body = bytes([len(scomps)])
        for c in scomps:
            body += bytes([c["cid"], (c["tbl"] << 4) | c["tbl"]])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)

    def scan_bits(emit):
        bw = _BitWriter()
        emit(bw)
        bw.pad()
        out.extend(bw.out)

    # ---- scan 1: DC first, interleaved over all components ----
    sos(comps, 0, 0, 0, dc_al)

    def dc_first(bw):
        preds = [0] * len(comps)
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            for i, c in enumerate(comps):
                codes = dc_codes[min(c["tbl"], 1)]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        row = my * c["v"] + by
                        col = mx * c["h"] + bx
                        v = int(c["zz"][row * c["bw"] + col, 0]) >> dc_al
                        diff = v - preds[i]
                        preds[i] = v
                        t = abs(diff).bit_length()
                        code, ln = codes[t]
                        bw.put(code, ln)
                        if t:
                            bw.put(diff if diff >= 0
                                   else diff + (1 << t) - 1, t)

    scan_bits(dc_first)
    if sa:
        # ---- DC refinement: one raw bit per block, MCU order ----
        sos(comps, 0, 0, 1, 0)

        def dc_refine(bw):
            for m in range(mcus_x * mcus_y):
                my, mx = divmod(m, mcus_x)
                for c in comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = my * c["v"] + by
                            col = mx * c["h"] + bx
                            bw.put(int(c["zz"][row * c["bw"] + col, 0])
                                   & 1, 1)

        scan_bits(dc_refine)
    # ---- AC scans: spectral bands per component ----
    for c in comps:
        for ss, se in ((1, 5), (6, 63)):
            sos([c], ss, se, 0, ac_al)

            def ac_first(bw, c=c, ss=ss, se=se):
                wr = _ProgACWriter(bw, ac_codes)
                for m in range(c["nbw"] * c["nbh"]):
                    row, col = divmod(m, c["nbw"])
                    wr.first_block(c["zz"][row * c["bw"] + col],
                                   ss, se, ac_al)
                wr.flush_eobrun()

            scan_bits(ac_first)
    if sa:
        for c in comps:
            sos([c], 1, 63, 1, 0)

            def ac_refine(bw, c=c):
                wr = _ProgACWriter(bw, ac_codes)
                for m in range(c["nbw"] * c["nbh"]):
                    row, col = divmod(m, c["nbw"])
                    wr.refine_block(c["zz"][row * c["bw"] + col],
                                    1, 63, 0)
                wr.flush_eobrun()

            scan_bits(ac_refine)
    out.extend((0xFF, 0xD9))
    return bytes(out)


def decode_any(payload: bytes):
    """S2 dispatch: IMG1 wire format → PNG → JPEG → PGM → None (the
    engine's cv2.imdecode). Color results come back as (h,w,3) sRGB."""
    for dec in (decode_img1, decode_png, decode_jpeg, decode_pgm):
        img = dec(payload)
        if img is not None:
            return img
    return None


# ---------------------------------------------------------------------------
# P6-P9: geometry
# ---------------------------------------------------------------------------


def resize_keep_aspect(img: np.ndarray, target_width: int) -> np.ndarray:
    """P6 (image_preprocessor.py:93-99): bilinear resample to the target
    width, preserving aspect (the reference picks Lanczos4 for
    downscale; bilinear keeps the math dependency-free)."""
    h, w = img.shape
    if w == target_width:
        return img.copy()
    scale = target_width / w
    nh, nw = max(1, int(round(h * scale))), target_width
    ys = (np.arange(nh) + 0.5) / scale - 0.5
    xs = (np.arange(nw) + 0.5) / scale - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    fy = np.clip(ys - y0, 0, 1)[:, None]
    fx = np.clip(xs - x0, 0, 1)[None, :]
    f = img.astype(np.float64)
    # separable form, bit-identical association to the direct 4-gather
    # expression ((1-fy)·r0 + fy·r1 with r = (1-fx)·f0 + fx·f1) but
    # with the x-interpolation shared across output rows — ~4× fewer
    # full-size temporaries, which dominates upscale cost on this
    # host's allocation-heavy page-zeroing regime
    tmp = (1 - fx) * f[:, x0] + fx * f[:, x1]
    out = (1 - fy) * tmp[y0, :] + fy * tmp[y1, :]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def pad_border(img: np.ndarray, px: int = 20) -> np.ndarray:
    """P7 (image_preprocessor.py:143-149): constant white border."""
    return np.pad(img, px, mode="constant", constant_values=255)


def rotate90(img: np.ndarray, angle: int) -> np.ndarray:
    """P9 (image_preprocessor.py:204-209): exact 90° rotations.
    angle ∈ {0, 90, 180, 270}, clockwise like cv2.ROTATE_*."""
    if angle == 90:
        return np.rot90(img, k=-1).copy()
    if angle == 180:
        return np.rot90(img, k=2).copy()
    if angle == 270:
        return np.rot90(img, k=1).copy()
    return img


def orient_landscape(img: np.ndarray) -> np.ndarray:
    """P8 fallback: portrait → landscape (the reference's 0-faces
    branch, image_preprocessor.py:195-200)."""
    h, w = img.shape
    return rotate90(img, 90) if h > w else img


def upright_score(img: np.ndarray) -> float:
    """Deterministic text-asymmetry measure for the orientation vote:
    horizontal-line strength (variance of the ink row-projection — text
    reads in horizontal bands when upright) weighted by top-heaviness
    of the ink distribution (document headers sit at the top). Plays
    the role of the reference's face count: larger = more upright."""
    # ink = deviation from the background level (median pixel) in the
    # card's dominant polarity: dark text on a light card normally, but
    # an inverted-contrast scan (light text on dark) carries the same
    # orientation signal on the other side of the median — pick
    # whichever side holds more mass so both polarities vote
    med = float(np.median(img))
    f64 = img.astype(np.float64)
    dark = np.clip(med - f64, 0.0, None)
    light = np.clip(f64 - med, 0.0, None)
    f = dark if dark.sum() >= light.sum() else light
    rows = f.sum(axis=1)
    total = rows.sum()
    if total <= 0:
        return 0.0
    h = len(rows)
    # squared profile: thick bands (title blocks) dominate the centre
    # of mass, thin repeated body lines nearly cancel — that is the
    # asymmetry a document's header carries
    sq = rows * rows
    com = float((np.arange(h) * sq).sum() / sq.sum()) / max(h - 1, 1)
    return float(rows.var()) * (1.5 - com)


def orient_vote(img: np.ndarray):
    """The winning rotation angle (0/90/180/270) by upright_score, or
    None when no rotation wins decisively (blank image, or best score
    within 10% of the runner-up — a symmetric card carries no
    orientation signal, like a card with no detectable face)."""
    scores = [upright_score(rotate90(img, a)) for a in (0, 90, 180, 270)]
    order = sorted(range(4), key=lambda i: scores[i], reverse=True)
    best, second = scores[order[0]], scores[order[1]]
    if best <= 0 or best < 1.10 * second:
        return None
    return (0, 90, 180, 270)[order[0]]


def orient_upright(img: np.ndarray) -> np.ndarray:
    """P8: pick the rotation among 0/90/180/270 where the content reads
    upright — the cv2-free analog of the reference's face-cascade vote
    (image_preprocessor.py:177-201): argmax of upright_score over the
    four rotations, falling back to the portrait→landscape rule when no
    rotation wins decisively (the reference's max_faces == 0 branch)."""
    angle = orient_vote(img)
    if angle is None:
        return orient_landscape(img)
    return rotate90(img, angle)


def rotate(img: np.ndarray, deg: float) -> np.ndarray:
    """Arbitrary-angle rotation around the center, bilinear sampling,
    replicate borders (cv2.warpAffine BORDER_REPLICATE equivalent)."""
    h, w = img.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    rad = math.radians(deg)
    c, s = math.cos(rad), math.sin(rad)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    # inverse map: output → input
    sy = cy + (yy - cy) * c - (xx - cx) * s
    sx = cx + (yy - cy) * s + (xx - cx) * c
    y0 = np.clip(np.floor(sy).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(sx).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    fy = np.clip(sy - y0, 0, 1)
    fx = np.clip(sx - x0, 0, 1)
    f = img.astype(np.float64)
    out = ((1 - fy) * ((1 - fx) * f[y0, x0] + fx * f[y0, x1])
           + fy * ((1 - fx) * f[y1, x0] + fx * f[y1, x1]))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# P11: deskew
# ---------------------------------------------------------------------------


def estimate_skew(img: np.ndarray) -> float:
    """Dominant text-line angle via projection profiles: the reference
    (image_preprocessor.py:268-308) averages HoughP segment angles
    within ±15°; rotating the text-pixel coordinates and maximizing the
    variance of the row-projection finds the same dominant direction.
    Angles are tried in 0.25° steps over ±15°, on the central 60% ROI
    like the reference."""
    h, w = img.shape
    my, mx = int(h * 0.2), int(w * 0.2)
    roi = img[my:h - my, mx:w - mx]
    if roi.size == 0:
        return 0.0
    f = roi.astype(np.float64)
    thr = f.mean() - 0.5 * f.std()
    ys, xs = np.nonzero(f < thr)
    if ys.size < 8:
        return 0.0
    ysf = ys.astype(np.float64)
    xsf = xs.astype(np.float64) - (roi.shape[1] - 1) / 2.0
    best_a, best_v = 0.0, -1.0
    for a in np.arange(-15.0, 15.0 + 1e-9, 0.25):
        rad = math.radians(a)
        ry = ysf * math.cos(rad) - xsf * math.sin(rad)
        rows = np.bincount(np.rint(ry - ry.min()).astype(int))
        v = float((rows.astype(np.float64) ** 2).sum())
        if v > best_v:
            best_v, best_a = v, float(a)
    return best_a


def deskew(img: np.ndarray) -> np.ndarray:
    """P11: correct by the estimated angle when |angle| ≥ 0.5° (the
    reference's decision threshold, image_preprocessor.py:303-308).
    estimate_skew(rotate(x, α)) == α, so the correction is −α."""
    a = estimate_skew(img)
    if abs(a) < 0.5:
        return img
    return rotate(img, -a)


# ---------------------------------------------------------------------------
# P12 / P13: composed paths
# ---------------------------------------------------------------------------


def denoise_bilateral(img: np.ndarray) -> np.ndarray:
    """P13 denoise stage: edge-preserving bilateral smoothing — the
    numpy counterpart of the reference's fastNlMeansDenoisingColored
    h=3 pass (image_preprocessor.py:478): flat-region noise is averaged
    away under the range kernel while edges (large intensity deltas)
    get near-zero weight and stay sharp. A 5×5 window with σ_space 3
    and σ_color 25, vectorized as 25 whole-image shifted products (no
    per-pixel loop)."""
    f = img.astype(np.float64)
    r = 2
    pad = np.pad(f, r, mode="reflect")
    num = np.zeros_like(f)
    den = np.zeros_like(f)
    two_ss = 2.0 * 3.0 * 3.0
    two_sc = 2.0 * 25.0 * 25.0
    h, w = f.shape
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            ws = math.exp(-(dy * dy + dx * dx) / two_ss)
            sh = pad[r + dy:r + dy + h, r + dx:r + dx + w]
            wgt = ws * np.exp(-((sh - f) ** 2) / two_sc)
            num += wgt * sh
            den += wgt
    return np.clip(np.rint(num / den), 0, 255).astype(np.uint8)


def minimal_ktp(img: np.ndarray) -> np.ndarray:
    """P12 (image_preprocessor.py:152-174): orient → resize(1000) →
    pad(20) — the authoritative non-destructive KTP path."""
    return pad_border(resize_keep_aspect(orient_upright(img), 1000), 20)


def smart_sim(img: np.ndarray) -> np.ndarray:
    """P13 enhance chain (image_preprocessor.py:352-380,464-488) minus
    the P10 perspective warp (the full P13 chain is
    ``smart_sim(perspective_correct(img))``):
    quality-assess → orient → deskew → adaptive-clip CLAHE → denoise →
    unsharp only when blurry (strength 2.0 very-blurry / 1.5) →
    resize only when wider than 1600 → pad."""
    q = quality_flags(laplacian_variance(img), *brightness_contrast(img))
    x = orient_upright(img)
    x = deskew(x)
    clip = (4.5 if q["is_dark"] else 4.0 if q["is_low_contrast"]
            else 3.0 if q["is_blurry"] else 2.0)
    x = clahe_gray(x, clip_limit=clip)
    x = denoise_bilateral(x)
    if q["is_blurry"]:
        x = unsharp_mask(x, strength=2.0 if q["is_very_blurry"] else 1.5)
    if x.shape[1] > 1600:
        x = resize_keep_aspect(x, 1600)
    return pad_border(x, 20)


# ---------------------------------------------------------------------------
# P10: perspective (geometric) correction
# ---------------------------------------------------------------------------


def find_card_quad(img: np.ndarray):
    """Locate the card's corner quad (image_preprocessor.py:212-242).
    The reference walks Canny+dilate contours for a 4-point polygon;
    here the card is segmented by intensity (documents are bright on a
    darker background) and the corners are the foreground points
    extremal in (x+y) and (x−y) — the classic order_points corners.
    Returns 4×2 float array (TL, TR, BR, BL) or None (no quad, under 5%
    of the frame, or already near-full-frame — the reference's ≥95%
    guard)."""
    h, w = img.shape
    f = img.astype(np.float64)
    thr = f.mean() + 0.25 * f.std()
    ys, xs = np.nonzero(f > thr)
    if ys.size < h * w * 0.05:
        return None
    bw = xs.max() - xs.min() + 1
    bh = ys.max() - ys.min() + 1
    if bw > 0.95 * w and bh > 0.95 * h:
        return None
    s = xs + ys
    d = xs - ys
    tl = (xs[s.argmin()], ys[s.argmin()])
    br = (xs[s.argmax()], ys[s.argmax()])
    tr = (xs[d.argmax()], ys[d.argmax()])
    bl = (xs[d.argmin()], ys[d.argmin()])
    return np.array([tl, tr, br, bl], dtype=np.float64)


def _homography(dst_pts: np.ndarray, src_pts: np.ndarray) -> np.ndarray:
    """DLT solve of the 8-parameter projective map dst → src."""
    a = np.zeros((8, 8))
    b = np.zeros(8)
    for i, ((x, y), (xs, ys)) in enumerate(zip(dst_pts, src_pts)):
        a[2 * i] = [x, y, 1, 0, 0, 0, -x * xs, -y * xs]
        b[2 * i] = xs
        a[2 * i + 1] = [0, 0, 0, x, y, 1, -x * ys, -y * ys]
        b[2 * i + 1] = ys
    p = np.linalg.solve(a, b)
    return np.array([[p[0], p[1], p[2]],
                     [p[3], p[4], p[5]],
                     [p[6], p[7], 1.0]])


def four_point_transform(img: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Warp the quad (TL, TR, BR, BL) to an axis-aligned rectangle sized
    by the longer opposite edges, bilinear sampling with clamp borders
    (the cv2 four_point_transform recipe in numpy)."""
    tl, tr, br, bl = pts
    wa = np.hypot(*(br - bl))
    wb = np.hypot(*(tr - tl))
    ha = np.hypot(*(tr - br))
    hb = np.hypot(*(tl - bl))
    out_w = max(2, int(round(max(wa, wb))))
    out_h = max(2, int(round(max(ha, hb))))
    dst = np.array([[0, 0], [out_w - 1, 0],
                    [out_w - 1, out_h - 1], [0, out_h - 1]], float)
    m = _homography(dst, pts)
    yy, xx = np.mgrid[0:out_h, 0:out_w].astype(np.float64)
    den = m[2, 0] * xx + m[2, 1] * yy + 1.0
    sx = (m[0, 0] * xx + m[0, 1] * yy + m[0, 2]) / den
    sy = (m[1, 0] * xx + m[1, 1] * yy + m[1, 2]) / den
    h, w = img.shape
    x0 = np.clip(np.floor(sx).astype(int), 0, w - 1)
    y0 = np.clip(np.floor(sy).astype(int), 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    fx = np.clip(sx - x0, 0, 1)
    fy = np.clip(sy - y0, 0, 1)
    f = img.astype(np.float64)
    out = ((1 - fy) * ((1 - fx) * f[y0, x0] + fx * f[y0, x1])
           + fy * ((1 - fx) * f[y1, x0] + fx * f[y1, x1]))
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def should_warp(pts: np.ndarray) -> bool:
    """The reference's plausibility gate (image_preprocessor.py:245-265):
    warp only when the quad is materially non-rectangular (opposite
    edges differ >15%) AND its average aspect ratio is card-like
    (1.2 < w/h < 2.0). Near-rectangular quads pass through untouched."""
    tl, tr, br, bl = pts
    top_w = np.linalg.norm(tr - tl)
    bot_w = np.linalg.norm(br - bl)
    left_h = np.linalg.norm(bl - tl)
    right_h = np.linalg.norm(br - tr)
    w_ratio = min(top_w, bot_w) / (max(top_w, bot_w) + 1e-6)
    h_ratio = min(left_h, right_h) / (max(left_h, right_h) + 1e-6)
    if w_ratio < 0.85 or h_ratio < 0.85:
        avg_w = (top_w + bot_w) / 2
        avg_h = (left_h + right_h) / 2
        if avg_h == 0:
            return False
        ar = avg_w / avg_h
        if 1.2 < ar < 2.0:
            return True
    return False


def perspective_correct(img: np.ndarray) -> np.ndarray:
    """P10: find the card quad and warp it upright when the reference's
    gate says so; pass the image through unchanged otherwise — the
    geometric_correction contract (image_preprocessor.py:212-242)."""
    pts = find_card_quad(img)
    if pts is None or not should_warp(pts):
        return img
    return four_point_transform(img, pts)
