"""Scalar image operators — numpy ports of the reference's ImageOp surface.

Parity sources (/root/reference/crates/interface/src/image/):
  invert                 cpu.rs:11-15        (bitwise NOT)
  add_border_wh          cpu.rs:17-57        (pad right/bottom black; no-op
                                              iff BOTH dims strictly larger)
  add_border_center      cpu.rs:59-101       (square pad, centered, floor offsets)
  remove_border          cpu.rs:103-135      (top-left crop)
  remove_border_center   cpu.rs:137-172      (center crop)
  rotate_right/left      cpu.rs:174-253      (90° CW / CCW)
  gamma_correction       cpu.rs:255-292      (weights applied positionally to
                                              RGB data as (0.114,0.587,0.299) —
                                              the reference labels them b,g,r
                                              but indexes RGB; preserved as-is)
  histogram_equalization cpu.rs:294-381      (RGB->YUV, CDF LUT on Y, back)
  transpose              cpu.rs:432-455
  resize (bilinear)      rayon.rs:394-434    (hot path uses Bilinear only:
                                              det_arrange.rs:35-41)
  bilateral_filter       /root/reference/crates/util/src/opencv.rs:6-23
                         call site d=17, sigma=80: dbnet/src/lib.rs:135
  resize_aspect_ratio    /root/reference/crates/util/src/imageproc.rs:10-51

Images are numpy (H, W, 3) uint8; masks are (H, W) uint8. All functions are
pure and shared by the oracle and the Spark pandas-UDF path.
"""

from __future__ import annotations

import math

import numpy as np

from mit_spark.operators.geometry import rust_round


# ---------------------------------------------------------------------------
# borders / crops / rotations


def invert(img: np.ndarray) -> np.ndarray:
    return 255 - img


def add_border_wh(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Pad right/bottom with black. No-op iff both dims strictly larger."""
    h, w = img.shape[:2]
    if w > width and h > height:
        return img
    tw, th = max(width, w), max(height, h)
    if img.ndim == 3:
        out = np.zeros((th, tw, img.shape[2]), dtype=img.dtype)
    else:
        out = np.zeros((th, tw), dtype=img.dtype)
    out[:h, :w] = img
    return out


def add_border(img: np.ndarray, side: int) -> np.ndarray:
    """ImageOp::add_border default (image/mod.rs:182-184)."""
    return add_border_wh(img, side, side)


def add_border_center(img: np.ndarray, side: int) -> np.ndarray:
    h, w = img.shape[:2]
    if max(h, w) >= side:
        return img
    pad_x = (side - w) // 2
    pad_y = (side - h) // 2
    out = np.zeros((side, side, 3), dtype=img.dtype)
    out[pad_y : pad_y + h, pad_x : pad_x + w] = img
    return out


def remove_border(img: np.ndarray, width: int, height: int) -> np.ndarray:
    return img[:height, :width].copy()


def remove_border_center(img: np.ndarray, width: int, height: int) -> np.ndarray:
    h, w = img.shape[:2]
    pad_x = (w - width) // 2
    pad_y = (h - height) // 2
    return img[pad_y : pad_y + height, pad_x : pad_x + width].copy()


def rotate_right(img: np.ndarray) -> np.ndarray:
    """90° clockwise: dst[c, H-1-r] = src[r, c]."""
    return np.rot90(img, k=-1).copy()


def rotate_left(img: np.ndarray) -> np.ndarray:
    """90° counter-clockwise: dst[W-1-c, r] = src[r, c]."""
    return np.rot90(img, k=1).copy()


def transpose(img: np.ndarray) -> np.ndarray:
    if img.ndim == 3:
        return img.transpose(1, 0, 2).copy()
    return img.T.copy()


# mask variants share the array representation
rotate_left_mask = rotate_left
remove_border_mask = remove_border


# ---------------------------------------------------------------------------
# photometric ops


def gamma_correction(img: np.ndarray) -> np.ndarray:
    """Auto-gamma via 256-entry LUT (cpu.rs:255-292)."""
    f = img.reshape(-1, 3).astype(np.float64)
    # positional weights exactly as the reference applies them to RGB data
    lum = 0.114 * f[:, 0] + 0.587 * f[:, 1] + 0.299 * f[:, 2]
    mean = float(lum.sum()) / (img.shape[0] * img.shape[1])
    gamma = math.log(0.5 * 255.0) / math.log(mean)
    i = np.arange(256, dtype=np.float64)
    lut = np.clip(rust_round(np.clip(255.0 * (i / 255.0) ** gamma, 0.0, 255.0)), 0, 255).astype(
        np.uint8
    )
    return lut[img]


def histogram_equalization(img: np.ndarray) -> np.ndarray:
    """Equalize luma in YUV space (cpu.rs:294-381), f32 math + Rust rounding."""
    f = img.astype(np.float32)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = np.clip(rust_round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255).astype(np.uint8)
    u = np.clip(rust_round(-0.169 * r - 0.331 * g + 0.5 * b + 128.0), 0, 255)
    v = np.clip(rust_round(0.5 * r - 0.419 * g - 0.081 * b + 128.0), 0, 255)

    hist = np.bincount(y.ravel(), minlength=256).astype(np.int64)
    cdf = np.cumsum(hist)
    nonzero = np.nonzero(hist)[0]
    cdf_min = int(cdf[nonzero[0]]) if len(nonzero) else 0
    total = img.shape[0] * img.shape[1]
    scale = 255.0 / max(total - cdf_min, 1)
    lut = np.clip(rust_round(np.clip(cdf - cdf_min, 0, None).astype(np.float32) * scale), 0, 255)
    ye = lut[y].astype(np.float32)

    uu = u.astype(np.float32) - 128.0
    vv = v.astype(np.float32) - 128.0
    out = np.stack(
        [
            np.clip(rust_round(ye + 1.402 * vv), 0, 255),
            np.clip(rust_round(ye - 0.344136 * uu - 0.714136 * vv), 0, 255),
            np.clip(rust_round(ye + 1.772 * uu), 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# resize — bilinear with half-pixel centers (the only interpolation on the
# reference's hot path, det_arrange.rs:35-41 / dbnet lib.rs:137); nearest kept
# for parity with the Interpolation enum (image/mod.rs:212-218).


def _bilinear_axis_coords(dst: int, src: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    scale = src / dst
    x = (np.arange(dst, dtype=np.float64) + 0.5) * scale - 0.5
    x0 = np.floor(x).astype(np.int64)
    # frac must be float32: float64 ufuncs are pathologically slow on this
    # numpy build (AVX512 f32 paths are ~1000x faster), and a float64 frac
    # would upcast every interpolation temporary
    frac = (x - x0).astype(np.float32)
    lo = np.clip(x0, 0, src - 1)
    hi = np.clip(x0 + 1, 0, src - 1)
    return lo, hi, frac


def _bilinear_tables(
    dst: int, src: int, channels: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Gather indices and weights (lo, hi, 1 - frac, frac) for one axis,
    indexing a channel-flattened (., src * channels) row: index and weight
    repeat per channel."""
    lo, hi, frac = _bilinear_axis_coords(dst, src)
    w_lo, w_hi = 1 - frac, frac
    if channels > 1:
        c = np.arange(channels)
        lo = (lo[:, None] * channels + c).ravel()
        hi = (hi[:, None] * channels + c).ravel()
        w_lo, w_hi = np.repeat(w_lo, channels), np.repeat(w_hi, channels)
    return lo, hi, w_lo, w_hi


# convolution-filter kernels for the remaining Interpolation variants
# (image/mod.rs:212-218 -> fast_image_resize FilterType, rayon.rs:394-434):
# Box, Bicubic (CatmullRom) and Lanczos3 are classic separable convolution
# resamplers — kernel stretched by the scale factor when downscaling
# (anti-aliasing), weights normalized per output pixel.


def _kernel_box(x: np.ndarray) -> np.ndarray:
    return (np.abs(x) <= 0.5).astype(np.float64)


def _kernel_catmullrom(x: np.ndarray) -> np.ndarray:
    # Keys cubic with a=-0.5 (Catmull-Rom), support 2
    ax = np.abs(x)
    out = np.zeros_like(ax)
    m1 = ax < 1
    m2 = (ax >= 1) & (ax < 2)
    out[m1] = 1.5 * ax[m1] ** 3 - 2.5 * ax[m1] ** 2 + 1.0
    out[m2] = -0.5 * ax[m2] ** 3 + 2.5 * ax[m2] ** 2 - 4.0 * ax[m2] + 2.0
    return out


def _kernel_lanczos3(x: np.ndarray) -> np.ndarray:
    # sinc(x) * sinc(x/3) on |x| < 3 (np.sinc is the normalized sinc)
    return np.where(np.abs(x) < 3, np.sinc(x) * np.sinc(x / 3.0), 0.0)


_CONV_FILTERS = {
    "box": (_kernel_box, 0.5),
    "bicubic": (_kernel_catmullrom, 2.0),
    "catmullrom": (_kernel_catmullrom, 2.0),
    "lanczos3": (_kernel_lanczos3, 3.0),
}


def _conv_weights(dst: int, src: int, kernel, support: float) -> np.ndarray:
    """(dst, src) row-normalized weight matrix for one axis; downscale
    stretches the kernel by the scale factor (area-style anti-aliasing)."""
    scale = src / dst
    fscale = max(scale, 1.0)
    centers = (np.arange(dst, dtype=np.float64) + 0.5) * scale  # in src space
    src_pos = np.arange(src, dtype=np.float64) + 0.5
    x = (src_pos[None, :] - centers[:, None]) / fscale
    w = kernel(x)
    # clamp-to-edge: fold any out-of-range kernel mass onto the edge texels
    # by renormalizing over in-range taps (equivalent for constant borders)
    rowsum = w.sum(axis=1, keepdims=True)
    return (w / rowsum).astype(np.float32)


def _resize_convolution(img: np.ndarray, width: int, height: int, name: str) -> np.ndarray:
    kernel, support = _CONV_FILTERS[name]
    h, w = img.shape[:2]
    wy = _conv_weights(height, h, kernel, support)  # (height, h)
    wx = _conv_weights(width, w, kernel, support)  # (width, w)
    f = img.astype(np.float32)
    if img.ndim == 3:
        # separable: rows then columns as BLAS matmuls
        tmp = np.tensordot(wy, f, axes=([1], [0]))  # (height, w, c)
        out = np.tensordot(tmp, wx, axes=([1], [1]))  # (height, c, width)
        out = np.moveaxis(out, 2, 1)  # (height, width, c)
    else:
        tmp = wy @ f
        out = tmp @ wx.T
    np.clip(out, 0.0, 255.0, out=out)
    out += np.float32(0.5)
    return out.astype(np.uint8)


def resize(img: np.ndarray, width: int, height: int, interpolation: str = "bilinear") -> np.ndarray:
    """Resample to (width, height); uint8 in -> uint8 out. Full
    Interpolation enum parity (image/mod.rs:212-218): nearest, box,
    bilinear, bicubic (CatmullRom), lanczos3."""
    h, w = img.shape[:2]
    if (w, h) == (width, height):
        return img
    if interpolation == "nearest":
        yi = np.minimum((np.arange(height) * (h / height)).astype(np.int64), h - 1)
        xi = np.minimum((np.arange(width) * (w / width)).astype(np.int64), w - 1)
        return img[yi][:, xi].copy()
    if interpolation in _CONV_FILTERS:
        return _resize_convolution(img, width, height, interpolation)
    if interpolation != "bilinear":
        raise NotImplementedError(f"interpolation {interpolation!r}")

    # rows first, then columns, on the channel-flattened (rows, w * c)
    # layout, so the column pass is one np.take over contiguous rows. The
    # row gathers read the UINT8 source and convert inside the multiply.
    # The per-element float32 order is fixed, because the property tests
    # pin the output bit-exactly to it: r = a*(1-fy) + b*fy, then
    # out = r0*(1-fx) + r1*fx, then +0.5 and truncate (== round, since a
    # convex combination of uint8 stays in [0, 255]).
    c = img.shape[2] if img.ndim == 3 else 1
    y0, y1, wy0, wy1 = _bilinear_tables(height, h, 1)
    x0, x1, wx0, wx1 = _bilinear_tables(width, w, c)
    src = img.reshape(h, w * c)
    rows = np.multiply(src[y0], wy0[:, None], dtype=np.float32)
    rows += np.multiply(src[y1], wy1[:, None], dtype=np.float32)
    out = np.take(rows, x0, axis=1)
    out *= wx0
    o1 = np.take(rows, x1, axis=1)
    o1 *= wx1
    out += o1
    out += np.float32(0.5)
    return out.astype(np.uint8).reshape((height, width) + img.shape[2:])


def resize_float(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Bilinear resize for float32 maps (prob/mask heads), no quantization."""
    h, w = arr.shape[:2]
    if (w, h) == (width, height):
        return arr.astype(np.float32)
    y0, y1, fy = _bilinear_axis_coords(height, h)
    x0, x1, fx = _bilinear_axis_coords(width, w)
    f = arr.astype(np.float32)
    rows = f[y0] * (1 - fy)[:, None] + f[y1] * fy[:, None]
    return (rows[:, x0] * (1 - fx)[None, :] + rows[:, x1] * fx[None, :]).astype(np.float32)


resize_mask = resize


# ---------------------------------------------------------------------------
# bilateral filter (util/src/opencv.rs:6-23; call site d=17, sigma=80)


def bilateral_filter(
    img: np.ndarray, d: int = 17, sigma_color: float = 80.0, sigma_space: float = 80.0
) -> np.ndarray:
    """Edge-preserving smoothing; vectorized over the (d x d) offset window.

    Border handling is reflect-101 (opencv BORDER_DEFAULT). Color distance is
    the L1 norm over channels (opencv convention for CV_8UC3). Deterministic
    pure numpy — oracle and pipeline share it, so internal equality is exact.
    """
    radius = d // 2
    f = img.astype(np.float32)
    pad = np.pad(f, ((radius, radius), (radius, radius), (0, 0)), mode="reflect")
    h, w = img.shape[:2]
    inv_2sc2 = -0.5 / (sigma_color * sigma_color)
    inv_2ss2 = -0.5 / (sigma_space * sigma_space)

    num = np.zeros_like(f)
    den = np.zeros((h, w, 1), dtype=np.float32)
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            if dx * dx + dy * dy > radius * radius:
                continue  # opencv uses a circular window of radius d/2
            shifted = pad[radius + dy : radius + dy + h, radius + dx : radius + dx + w]
            cdist = np.abs(shifted - f).sum(axis=2)
            wgt = np.exp(cdist * cdist * inv_2sc2 + (dx * dx + dy * dy) * inv_2ss2)[..., None]
            num += wgt * shifted
            den += wgt
    return np.clip(np.floor(num / den + 0.5), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# resize_aspect_ratio (imageproc.rs:10-51) — resize longest side to
# detect_size, then pad right/bottom to a multiple of 256.


def resize_aspect_ratio(
    img: np.ndarray, square_size: int, mag_ratio: float = 1.0
) -> tuple[np.ndarray, float, int, int]:
    """Returns (padded_img, ratio, pad_w, pad_h). When the image is already
    at the target size and needs no padding, padded_img is ``img`` itself,
    not a copy: callers must not write to it."""
    h, w = img.shape[:2]
    target_size = min(mag_ratio * square_size, float(square_size))
    ratio = target_size / max(h, w)
    target_h = int(rust_round(h * ratio))
    target_w = int(rust_round(w * ratio))
    proc = resize(img, target_w, target_h, "bilinear")

    mult = 256
    pad_h = (mult - target_h % mult) % mult
    pad_w = (mult - target_w % mult) % mult
    if pad_w == pad_h == 0:
        return proc, ratio, 0, 0
    out = add_border_wh(proc, target_w + pad_w, target_h + pad_h)
    return out, ratio, pad_w, pad_h
