"""DBNet segmentation post-processing — numpy port of SegDetectorRepresenter.

Parity source: /root/reference/crates/util/src/dbnet.rs
  binarize              :55-57    pred > thresh elementwise
  call                  :70-101   slice channel 0, loop batch
  get_mini_boxes        :113-149  min-area rect + x-sort corner ordering
  box_score_fast        :151-222  masked mean of prob inside contour polygon
  boxes_from_bitmap     :224-297  candidate loop, thresholds, rescale, roll
  unclip                :300-324  round-join polygon offset,
                                  delta = signed_area * ratio / perimeter
  defaults              :327-337  min_size=3, thresh=0.6, box_thresh=0.8,
                                  max_candidates=1000, unclip=2.2
  (wired at runtime from DefaultOptions: dbnet/src/lib.rs:165-171)

Deliberate deviation, documented per SURVEY.md §2.5 A5: the reference
computes the offset delta on a 100x-scaled copy of the path but applies it
to the UNSCALED polygon (dbnet.rs:307-317), inflating delta 100x. We use the
standard DBNet delta (area * unclip_ratio / perimeter at original scale).
Equality in this engine is oracle == pipeline and both use this module.

"Contours" here are the 8-connected components of the thresholded map, read
through contours.component_row_extremes: each component as its per-row
leftmost and rightmost pixels, which hold its whole convex hull. The score
and the first mini box are computed over that hull, which for text blobs
matches cv2's outer-contour behaviour.

Each candidate costs a fixed handful of numpy calls on a few points (hull,
two mini boxes, score, unclip, rescale), not a python loop per row, vertex
or pixel; every value is bit-identical to the scalar definitions in
tests/scalar_oracles.py and to tests/test_batched_detect.py's golden digest.
"""

from __future__ import annotations

import math

import numpy as np

from mit_spark.operators.contours import (
    component_row_extremes,
    min_area_rect,
    offset_polygon_round,
    polygon_perimeter,
    row_extremes_hull,
)
from mit_spark.operators.geometry import polygon_area, roll_rows, rust_round, trunc_i64


def binarize(pred: np.ndarray, thresh: float) -> np.ndarray:
    """dbnet.rs:55-57."""
    return pred > thresh


def get_mini_boxes(points: np.ndarray) -> tuple[np.ndarray, float]:
    """dbnet.rs:113-149: min-area rect corners ordered
    [left-top, right-top, right-bottom, left-bottom] via the x-sort +
    pairwise-y rules; returns (4x2 float32, min side length)."""
    corners, w, h = min_area_rect(points)
    c = corners.tolist()
    s0, s1, s2, s3 = sorted(range(4), key=lambda i: c[i][0])  # stable x-sort
    i1, i4 = (s0, s1) if c[s1][1] > c[s0][1] else (s1, s0)
    i2, i3 = (s2, s3) if c[s3][1] > c[s2][1] else (s3, s2)
    return corners[[i1, i2, i3, i4]], float(min(w, h))


def box_score_fast(pred: np.ndarray, contour_poly: np.ndarray) -> float:
    """dbnet.rs:151-222: mean of ``pred`` inside the filled polygon, over the
    clamped bounding-box ROI.

    The fill is cv2.fillPoly's even-odd scanline at integer pixel centres,
    in the ROI's frame: per row, the crossings of the edges that straddle it
    (half-open rule) fill from max(ceil(x_left - 0.5), 0) to
    min(floor(x_right + 0.5), w - 1); a row with no crossing keeps the
    pixels of the horizontal edges on it. ``contour_poly`` must be convex
    (the only caller passes a convex hull), so each row crosses it at most
    once each side and only its top row can be horizontal-only: the rows'
    single spans come from one (rows, edges) pass, and the mask from one
    broadcast comparison. Bit-identical to the per-row fill kept in the
    tests (tests/scalar_oracles.py)."""
    h, w = pred.shape
    p = np.asarray(contour_poly, dtype=np.float64)
    pts = p.tolist()  # the few vertices' scalars, without numpy reductions
    px0, py0 = (min(c) for c in zip(*pts))
    px1, py1 = (max(c) for c in zip(*pts))
    xmin = min(max(math.floor(px0), 0), w - 1)
    xmax = min(max(math.ceil(px1), 0), w - 1)
    ymin = min(max(math.floor(py0), 0), h - 1)
    ymax = min(max(math.ceil(py1), 0), h - 1)
    bw = xmax - xmin + 1
    q = p - np.array([xmin, ymin], dtype=np.float64)
    if len(q) < 3:  # degenerate: mark the rounded vertices
        mask = np.zeros((ymax - ymin + 1, bw), dtype=bool)
        xi = np.clip(np.round(q[:, 0]).astype(int), 0, bw - 1)
        yi = np.clip(np.round(q[:, 1]).astype(int), 0, ymax - ymin)
        mask[yi, xi] = True
        y0 = 0
    else:
        # rows in the ROI frame; min/max commute with subtracting ymin
        top = py1 - ymin
        y0 = max(math.floor(py0 - ymin), 0)
        y1 = min(math.ceil(top), ymax - ymin)
        if y1 < y0:
            return 0.0
        nxt = np.concatenate((q[1:], q[:1]))
        e = nxt - q
        xa, ya, yb, dx, dy = q[:, 0], q[:, 1], nxt[:, 1], e[:, 0], e[:, 1]
        ys = np.arange(y0, y1 + 1, dtype=np.float64)[:, None]
        cross = (ya <= ys) != (yb <= ys)  # half-open: one end on or below
        # x where each edge meets each row; horizontal edges never cross,
        # so their divisor may be anything finite
        x = xa + (ys - ya) / np.where(dy == 0, 1.0, dy) * dx
        # a convex polygon crosses a row twice or not at all
        x = np.sort(np.where(cross, x, np.inf), axis=1)
        lo = np.maximum(np.ceil(x[:, 0] - 0.5), 0.0)
        hi = np.minimum(np.floor(x[:, 1] + 0.5), bw - 1.0)
        if top == math.floor(top) and y0 <= top <= y1:
            # the top row has no crossing; its horizontal edges, one
            # contiguous run on a convex polygon, fill their pixel span
            on = [y - ymin == top for _x, y in pts]
            n = len(pts)
            ends = [pts[i][0] - xmin for i in range(n) if on[i] and (on[i - 1] or on[(i + 1) % n])]
            if ends:
                lo[int(top) - y0] = max(math.ceil(min(ends)), 0)
                hi[int(top) - y0] = min(math.floor(max(ends)), bw - 1)
        cols = np.arange(bw)
        mask = (cols >= lo[:, None]) & (cols <= hi[:, None])
    roi = pred[ymin + y0 : ymin + y0 + len(mask), xmin : xmax + 1]
    cnt = np.count_nonzero(mask)
    if cnt == 0:
        return 0.0
    return float(roi[mask].astype(np.float64).sum() / cnt)


def unclip(box: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """dbnet.rs:300-324 semantics with standard-DBNet delta (see module doc):
    round-join outward offset by area * ratio / perimeter."""
    poly = np.asarray(box, dtype=np.float64)
    perim = polygon_perimeter(poly)
    if perim <= 0:
        return poly
    delta = polygon_area(poly) * unclip_ratio / perim
    return offset_polygon_round(poly, delta)


def boxes_from_bitmap(
    pred: np.ndarray,
    bitmap: np.ndarray,
    dest_width: int,
    dest_height: int,
    *,
    min_size: float = 3.0,
    box_thresh: float = 0.8,
    max_candidates: int = 1000,
    unclip_ratio: float = 2.2,
) -> tuple[np.ndarray, np.ndarray]:
    """dbnet.rs:224-297. Returns (boxes (N,4,2) int64, scores (N,) float64);
    rejected candidates keep zero rows/scores exactly like the reference
    (filtered later by filter_boxes_and_adjust)."""
    height, width = bitmap.shape
    # per-row x-extremes carry each component's full convex hull — avoids
    # hulling hundreds of thousands of interior pixels for big components
    comps = component_row_extremes(bitmap)
    num = min(len(comps), max_candidates)
    boxes = np.zeros((num, 4, 2), dtype=np.int64)
    scores = np.zeros(num, dtype=np.float64)
    to_src = np.array([width, height], dtype=np.float32)
    to_dest = np.array([dest_width, dest_height], dtype=np.float32)
    dest_max = np.array([dest_width, dest_height], dtype=np.float64)

    for index in range(num):
        hull = row_extremes_hull(comps[index])
        # the monotone chain is idempotent on its own output, so the mini
        # box over the hull equals the one over the extremes
        points, sside = get_mini_boxes(hull)
        if sside < min_size:
            continue
        score = box_score_fast(pred, hull)
        if box_thresh > score:
            continue

        expanded = unclip(points.astype(np.float64), unclip_ratio)
        # reference: Point::new(x as i32, y as i32) — truncation toward zero
        expanded_i = trunc_i64(expanded).astype(np.float64)
        box, sside = get_mini_boxes(expanded_i)
        if sside < min_size + 2.0:
            continue

        # x / width * dest_width per column, in float32 like the scalar form
        out = np.minimum(np.maximum(rust_round(box / to_src * to_dest), 0.0), dest_max)
        corner_sums = (out[:, 0] + out[:, 1]).tolist()
        out = roll_rows(out, 4 - corner_sums.index(min(corner_sums)))  # first min
        scores[index] = score
        boxes[index] = out.astype(np.int64)

    return boxes, scores


def representer_call(
    pred_batch: np.ndarray,
    shapes: list[tuple[int, int]],
    *,
    thresh: float,
    box_thresh: float,
    min_size: float = 3.0,
    max_candidates: int = 1000,
    unclip_ratio: float = 2.2,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """SegDetectorRepresenter::call (dbnet.rs:70-101): slice channel 0,
    binarize, per-batch-item boxes_from_bitmap. ``shapes`` is
    [(dest_height, dest_width), ...] like Batch.shape."""
    pred = pred_batch[:, 0, :, :]
    seg = binarize(pred, thresh)
    boxes_batch, scores_batch = [], []
    for bi, (dh, dw) in enumerate(shapes[: pred.shape[0]]):
        b, s = boxes_from_bitmap(
            pred[bi],
            seg[bi],
            dw,
            dh,
            min_size=min_size,
            box_thresh=box_thresh,
            max_candidates=max_candidates,
            unclip_ratio=unclip_ratio,
        )
        boxes_batch.append(b)
        scores_batch.append(s)
    return boxes_batch, scores_batch


def filter_boxes_and_adjust(boxes: np.ndarray, ratio_w: float, ratio_h: float) -> np.ndarray:
    """dbnet/src/lib.rs:224-253: drop all-zero rows, scale by (ratio_w,
    ratio_h), truncate back to i64."""
    if boxes.size == 0:
        return np.zeros((0, 4, 2), dtype=np.int64)
    keep = boxes.reshape(boxes.shape[0], -1).sum(axis=1) > 0
    polys = boxes[keep].astype(np.float64)
    polys = polys * np.array([ratio_w, ratio_h], dtype=np.float64)
    return trunc_i64(polys)
