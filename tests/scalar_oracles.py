"""Scalar definitions of the media UDF's array kernels, kept as test oracles.

Each function here is the plain per-row / per-vertex / per-cell loop that an
array kernel in ``mit_spark.operators`` must reproduce bit for bit:

  * fill_polygon_mask     even-odd scanline fill at integer pixel centres,
                          one python iteration per row (cv2.fillPoly as used
                          by dbnet.rs:184-200 box_score_fast);
                          dbnet_post.box_score_fast fills convex hulls only
  * box_score             box_score_fast's masked mean over that fill
  * offset_polygon_round  round-join offset, one python iteration per vertex
                          (contours.offset_polygon_round)
  * decode_quad           the glyph-bar decode, one python iteration per cell
                          (ocr.decode_quad)
  * fill_polys_mask       paddle's quad scanline fill, one python iteration
                          per row and edge (detector.fill_polys_mask)
  * synthetic_heads       the stand-in forward's db and mask heads: a float64
                          np.where cast to float32 and a reshape-mean 2x2
                          pool (forward.synthetic_forward)

They are slow on purpose: each is the definition, not an implementation.
"""

from __future__ import annotations

import numpy as np

from mit_spark.operators.forward import INK_HI, INK_LO, P_BG, P_INK
from mit_spark.synth import ALPHABET, CELL, MARK


def fill_polygon_mask(poly: np.ndarray, width: int, height: int) -> np.ndarray:
    """Rasterize ``poly`` ((N,2) float, x/y in mask coords) into a bool mask of
    shape (height, width): per row, the crossings of the edges that straddle
    it (half-open rule), sorted and paired, each pair filled inclusive from
    max(ceil(x_even - 0.5), 0) to min(floor(x_odd + 0.5), w - 1); an
    unpaired trailing crossing is ignored. A row with no crossing marks the
    pixels of the horizontal edges lying on it. Fewer than 3 vertices mark
    the rounded vertices."""
    p = np.asarray(poly, dtype=np.float64)
    mask = np.zeros((height, width), dtype=bool)
    if len(p) < 3:
        xi = np.clip(np.round(p[:, 0]).astype(int), 0, width - 1)
        yi = np.clip(np.round(p[:, 1]).astype(int), 0, height - 1)
        mask[yi, xi] = True
        return mask
    y0 = max(int(np.floor(p[:, 1].min())), 0)
    y1 = min(int(np.ceil(p[:, 1].max())), height - 1)
    xa, ya = p[:, 0], p[:, 1]
    xb, yb = np.roll(p[:, 0], -1), np.roll(p[:, 1], -1)
    for y in range(y0, y1 + 1):
        cond = ((ya <= y) & (yb > y)) | ((yb <= y) & (ya > y))
        if not cond.any():
            for a in np.nonzero((ya == y) & (yb == y))[0]:
                xs = sorted((xa[a], xb[a]))
                lo = max(int(np.ceil(xs[0])), 0)
                hi = min(int(np.floor(xs[1])), width - 1)
                if lo <= hi:
                    mask[y, lo : hi + 1] = True
            continue
        t = (y - ya[cond]) / (yb[cond] - ya[cond])
        xs = np.sort(xa[cond] + t * (xb[cond] - xa[cond]))
        for k in range(0, len(xs) - 1, 2):
            lo = max(int(np.ceil(xs[k] - 0.5)), 0)
            hi = min(int(np.floor(xs[k + 1] + 0.5)), width - 1)
            if lo <= hi:
                mask[y, lo : hi + 1] = True
    return mask


def box_score(pred: np.ndarray, poly: np.ndarray) -> float:
    """Mean of ``pred`` over fill_polygon_mask of ``poly``, filled in the
    frame of its clamped bounding-box ROI (dbnet.rs:151-222)."""
    h, w = pred.shape
    xs, ys = poly[:, 0], poly[:, 1]
    xmin = int(np.clip(np.floor(xs.min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(xs.max()), 0, w - 1))
    ymin = int(np.clip(np.floor(ys.min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(ys.max()), 0, h - 1))
    shifted = poly - np.array([xmin, ymin], dtype=np.float64)
    mask = fill_polygon_mask(shifted, xmax - xmin + 1, ymax - ymin + 1)
    roi = pred[ymin : ymax + 1, xmin : xmax + 1]
    cnt = int(mask.sum())
    if cnt == 0:
        return 0.0
    return float(roi[mask].astype(np.float64).sum() / cnt)


def offset_polygon_round(poly: np.ndarray, delta: float, arc_steps: int = 8) -> np.ndarray:
    """Outward round-join offset of a convex polygon: each vertex with two
    non-degenerate edges contributes the arc from its incoming edge's
    outward normal to its outgoing edge's, sampled in steps of at most
    pi / arc_steps, on the circle of radius ``delta`` around it."""
    p = np.asarray(poly, dtype=np.float64)
    n = len(p)
    if n < 3 or delta <= 0:
        return p.copy()
    area2 = float(
        np.dot(p[:, 0], np.roll(p[:, 1], -1)) - np.dot(p[:, 1], np.roll(p[:, 0], -1))
    )
    if area2 < 0:
        p = p[::-1]
    out = []
    for i in range(len(p)):
        prev_, cur, nxt = p[i - 1], p[i], p[(i + 1) % len(p)]
        e0 = cur - prev_
        e1 = nxt - cur
        l0, l1 = np.hypot(*e0), np.hypot(*e1)
        if l0 == 0 or l1 == 0:
            continue
        n0 = np.array([e0[1], -e0[0]]) / l0
        n1 = np.array([e1[1], -e1[0]]) / l1
        a0 = np.arctan2(n0[1], n0[0])
        a1 = np.arctan2(n1[1], n1[0])
        da = a1 - a0
        while da < 0:
            da += 2 * np.pi
        while da > 2 * np.pi:
            da -= 2 * np.pi
        steps = max(int(np.ceil(da / (np.pi / arc_steps))), 1)
        for a in a0 + da * np.arange(steps + 1) / steps:
            out.append(cur + delta * np.array([np.cos(a), np.sin(a)]))
    return np.array(out, dtype=np.float64)


def decode_quad(img: np.ndarray, quad) -> str:
    """Crop the quad's clamped bounding box, take the tight box of its dark
    pixels, split it into CELL-px cells along the longer side and read each
    cell's count of MARK lines (columns, or rows when vertical, whose pixels
    are more than half MARK) minus one as a digit."""
    h, w = img.shape[:2]
    xs, ys = quad.pts[:, 0], quad.pts[:, 1]
    x0 = int(np.clip(xs.min(), 0, w - 1))
    x1 = int(np.clip(xs.max(), 0, w - 1))
    y0 = int(np.clip(ys.min(), 0, h - 1))
    y1 = int(np.clip(ys.max(), 0, h - 1))
    crop = img[y0 : y1 + 1, x0 : x1 + 1]
    if crop.size == 0:
        return ""
    dark = (crop < 128).all(axis=2)
    if not dark.any():
        return ""
    rows = np.nonzero(dark.any(axis=1))[0]
    cols = np.nonzero(dark.any(axis=0))[0]
    tight = crop[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
    th, tw = tight.shape[:2]
    horizontal = tw > th
    length = tw if horizontal else th
    n_cells = max(int(round(length / CELL)), 1)
    mark = (np.abs(tight.astype(np.int16) - MARK) <= 15).all(axis=2)
    out = []
    for i in range(n_cells):
        lo = i * CELL
        hi = min(lo + CELL, length)
        if horizontal:
            marked = mark[:, lo:hi].mean(axis=0) > 0.5
        else:
            marked = mark[lo:hi, :].mean(axis=1) > 0.5
        v = int(marked.sum()) - 1
        if 0 <= v < len(ALPHABET):
            out.append(ALPHABET[v])
    return "".join(out)


def fill_polys_mask(quads: list, width: int, height: int) -> np.ndarray:
    """Paddle's quad fill (paddle/src/lib.rs:211-264), the direct per-pixel
    port of the reference scanline loop: per row, the crossings of the
    non-horizontal edges truncated toward zero, sorted and paired, each pair
    filled inclusive after clamping to the row."""
    mask = np.zeros((height, width), dtype=np.uint8)
    for q in quads:
        p = np.asarray(q.pts if hasattr(q, "pts") else q, dtype=np.int64)
        edges = [
            (p[i], p[(i + 1) % 4]) for i in range(4) if p[i][1] != p[(i + 1) % 4][1]
        ]
        if not edges:
            continue
        y_min = max(int(p[:, 1].min()), 0)
        y_max = min(int(p[:, 1].max()), height - 1)
        for y in range(y_min, y_max + 1):
            xs = []
            for (x0, y0), (x1, y1) in edges:
                if (y0 <= y < y1) or (y1 <= y < y0):
                    t = (y - y0) / (y1 - y0)
                    xs.append(int(x0 + t * (x1 - x0)))  # `as i64` truncation
            xs.sort()
            for k in range(0, len(xs) - 1, 2):
                lo = min(max(xs[k], 0), width - 1)
                hi = min(max(xs[k + 1], 0), width - 1)
                mask[y, lo : hi + 1] = 255
    return mask


def synthetic_heads(batch: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The stand-in forward's heads for a (B, H, W, 3) uint8 batch: ink is
    every channel within [INK_LO, INK_HI]; db is P_INK on ink and P_BG
    elsewhere, built in float64 and cast to float32; mask is the float32 2x2
    mean of db over the even-sized top-left crop."""
    b, h, w, _ = batch.shape
    ink = ((batch >= INK_LO) & (batch <= INK_HI)).all(axis=-1)
    prob = np.where(ink, P_INK, P_BG).astype(np.float32)
    h2, w2 = h // 2, w // 2
    pooled = prob[:, : h2 * 2, : w2 * 2].reshape(b, h2, 2, w2, 2).mean(axis=(2, 4))
    return prob[:, None, :, :], pooled[:, None, :, :]
