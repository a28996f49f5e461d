"""Pure-numpy replacements for the opencv/Clipper primitives the reference
leans on (this container has no cv2/shapely/pyclipper — SURVEY.md §7 risks).

Semantics parity (not bit parity — equality in this engine is always
oracle == pipeline, and both import THIS module):
  * connected components  <- cv2.findContours(RETR_LIST, CHAIN_APPROX_SIMPLE)
      as called from /root/reference/crates/util/src/imageproc.rs:62-88.
      We group 8-connected foreground pixels; hole contours are irrelevant
      for DBNet text maps. Components are enumerated in deterministic
      (min_row, min_col) order. One run labeller (_label_runs) has two
      views: connected_components gives every pixel of each component;
      component_row_extremes gives each row's leftmost and rightmost pixel.
      The detect path (dbnet_post.boxes_from_bitmap) uses the row-extremes
      view, which holds the component's whole convex hull, and hulls it
      with row_extremes_hull (drops the row extremes that cannot be hull
      vertices before the sequential monotone chain).
  * min_area_rect          <- cv2.minAreaRect + boxPoints as used by
      get_mini_boxes (/root/reference/crates/util/src/dbnet.rs:113-149):
      convex hull + rotating calipers over all edges at once.
  * offset_polygon_round   <- Clipper2 ROUND_JOIN polygon offset as used by
      unclip (dbnet.rs:300-324): exact round-join offset of a convex polygon
      (arc-sampled corners), all vertices' arcs in one array pass.
  (cv2.fillPoly, as used by box_score_fast, is filled in
  dbnet_post.box_score_fast itself: its polygon is always a convex hull.)

The per-candidate kernels here run a few times per text candidate, on 4- to
40-point arrays, so their cost is numpy's per-call overhead: each is a
fixed handful of array operations, bit-identical to the scalar loops kept
as definitions in tests/scalar_oracles.py.
"""

from __future__ import annotations

import numpy as np

from mit_spark.operators.geometry import convex_hull

# (dx, dy) -> (-dy, dx) as dn[:, ::-1] * _TO_NORMAL: the left normal
_TO_NORMAL = np.array([-1.0, 1.0])


# ---------------------------------------------------------------------------
# connected components (8-connectivity), run-based union-find


def _find(parent: list, x: int) -> int:
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


def _label_runs(bitmap: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Horizontal runs of True pixels (exclusive ends) and the 8-connected
    component of each: (rows, starts, ends, labels). Labels number the
    components in (min_row, min_col) order; runs come grouped by label,
    row-major within a component."""
    bm = np.asarray(bitmap, dtype=bool)
    h, w = bm.shape
    ink_rows = np.flatnonzero(bm.any(axis=1))
    if not len(ink_rows):
        e = np.empty(0, dtype=np.int64)
        return e, e, e, e

    # runs only on the rows holding ink: starts/ends via diff on padded
    # rows, located in the flattened diff (one 1-D pass, no 2-D nonzero)
    K = w + 2
    padded = np.zeros((len(ink_rows), K), dtype=np.int8)
    padded[:, 1:-1] = bm[ink_rows]
    d = (padded[:, 1:] - padded[:, :-1]).ravel()
    starts_flat = np.flatnonzero(d == 1)
    ends_flat = np.flatnonzero(d == -1)  # same count/order per row
    run_rows = ink_rows[starts_flat // (K - 1)]
    run_starts = starts_flat % (K - 1)
    run_ends = ends_flat % (K - 1)  # exclusive

    n_runs = len(run_rows)
    row_start_idx = np.searchsorted(run_rows, np.arange(h + 1))

    # union runs that touch between consecutive rows (8-conn: runs [s,e)
    # touch iff s_a <= e_b and s_b <= e_a — exclusive ends give the
    # one-pixel diagonal slack). Candidate pairs are found vectorized:
    # within a row both starts and ends are strictly increasing, so for a
    # run j the touching runs of the PREVIOUS row form one contiguous index
    # interval [lo_j, hi_j), located with two global searchsorted calls on
    # row-composite keys (row*K + coord is globally increasing).
    starts_key = run_rows * K + run_starts
    ends_key = run_rows * K + run_ends
    j_ids = np.flatnonzero(run_rows > 0)
    i_idx = jj = np.empty(0, dtype=np.int64)
    if len(j_ids):
        rj = run_rows[j_ids]
        lo = np.searchsorted(ends_key, (rj - 1) * K + run_starts[j_ids], side="left")
        hi = np.searchsorted(starts_key, (rj - 1) * K + run_ends[j_ids], side="right")
        lo = np.maximum(lo, row_start_idx[rj - 1])
        hi = np.minimum(hi, row_start_idx[rj])
        c = np.maximum(hi - lo, 0)
        total = int(c.sum())
        if total:
            grp = np.repeat(np.arange(len(j_ids)), c)
            within = np.arange(total) - np.repeat(np.cumsum(c) - c, c)
            i_idx = lo[grp] + within
            jj = j_ids[grp]

    # the root of a component is its smallest run index, i.e. its first
    # run in (row, start) order — so sorted roots give (min_row, min_col)
    parent = list(range(n_runs))
    for i, j in zip(i_idx.tolist(), jj.tolist()):
        ri, rjr = _find(parent, i), _find(parent, j)
        if ri != rjr:
            parent[max(ri, rjr)] = min(ri, rjr)
    # every parent index is at most its child's, so one ascending pass
    # leaves each run pointing at its root
    for i in range(n_runs):
        parent[i] = parent[parent[i]]
    roots = np.array(parent, dtype=np.int64)
    # label = rank of the root among the roots
    labels = (np.cumsum(roots == np.arange(n_runs)) - 1)[roots]
    order = np.argsort(labels, kind="stable")
    return run_rows[order], run_starts[order], run_ends[order], labels[order]


def connected_components(bitmap: np.ndarray) -> list[np.ndarray]:
    """Group 8-connected True pixels; returns a list of (N_i, 2) int64 arrays
    of (x, y) coordinates, ordered by (min_row, min_col) of the component.
    Pixels of a component come row-major."""
    rows, starts, ends, labels = _label_runs(bitmap)
    if not len(rows):
        return []
    lens = ends - starts
    first = np.cumsum(lens) - lens  # each run's offset in the pixel list
    xs = np.arange(first[-1] + lens[-1]) - np.repeat(first - starts, lens)
    pts = np.stack([xs, np.repeat(rows, lens)], axis=1)
    new_comp = np.flatnonzero(np.diff(labels)) + 1  # first run of each later component
    return np.split(pts, first[new_comp])


def component_row_extremes(bitmap: np.ndarray) -> list[np.ndarray]:
    """Per-row extremes of the same components, in the same order: for each
    component a (2 * n_rows, 2) int64 array holding (min x, y), (max x, y)
    for each of its rows, top to bottom. These points carry the component's
    full convex hull, at a fraction of its pixels."""
    rows, starts, ends, labels = _label_runs(bitmap)
    if not len(rows):
        return []
    # one segment per (component, row); a row may hold several runs
    starts_seg = (labels[1:] != labels[:-1]) | (rows[1:] != rows[:-1])
    seg = np.flatnonzero(np.concatenate(([True], starts_seg)))
    pts = np.empty((len(seg), 2, 2), dtype=np.int64)
    pts[:, 0, 0] = np.minimum.reduceat(starts, seg)
    pts[:, 1, 0] = np.maximum.reduceat(ends - 1, seg)
    pts[:, :, 1] = rows[seg, None]
    bounds = [0, *(2 * np.flatnonzero(np.diff(labels[seg])) + 2).tolist(), 2 * len(seg)]
    flat = pts.reshape(-1, 2)
    return [flat[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def row_extremes_hull(ext: np.ndarray) -> np.ndarray:
    """convex_hull of one component's row extremes (one item of
    component_row_extremes), equal to convex_hull(ext) point for point.

    The rows are consecutive, so a left extreme of an inner row whose x is at
    least the mean of its neighbours' lies between their midpoint and its
    row's right extreme: inside the hull of the other points, and no hull
    vertex; mirrored on the right. The monotone chain keeps only strict hull
    vertices (exact on integer points), so dropping those first leaves its
    output unchanged and feeds it a few points instead of two per row."""
    x = ext[:, 0].reshape(-1, 2)
    keep = np.ones(x.shape, dtype=bool)
    keep[1:-1, 0] = 2 * x[1:-1, 0] < x[:-2, 0] + x[2:, 0]
    keep[1:-1, 1] = 2 * x[1:-1, 1] > x[:-2, 1] + x[2:, 1]
    return convex_hull(ext[keep.ravel()].astype(np.float64))


# ---------------------------------------------------------------------------
# min-area rotated rectangle (rotating calipers over the convex hull)


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, float, float]:
    """Returns (4 corner points float32 (4,2), width, height) of the minimum
    -area rectangle enclosing ``points`` (pixel coordinates as points, the
    cv2.minAreaRect convention: a 1-px-wide run has zero width)."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    hull = convex_hull(pts)
    n = len(hull)
    if n == 1:
        p = hull[0]
        corners = np.tile(p, (4, 1))
        return corners.astype(np.float32), 0.0, 0.0
    if n == 2:
        a, b = hull
        corners = np.array([a, b, b, a])
        return corners.astype(np.float32), float(np.linalg.norm(b - a)), 0.0

    # rotating calipers vectorized over ALL edges at once (the per-edge
    # loop cost ~8 small numpy calls each; dots here are 2-term products so
    # the arithmetic is order-identical to the scalar loop, and argmin keeps
    # the loop's first-strict-min tie behavior). Hull points are distinct,
    # so no edge has zero length.
    edges = np.concatenate((hull[1:], hull[:1])) - hull
    dn = edges / np.hypot(edges[:, 0], edges[:, 1])[:, None]   # (m, 2) unit dirs
    nv = dn[:, ::-1] * _TO_NORMAL                               # (m, 2) normals
    m = len(dn)
    # projections on every direction, then every normal: (n_pts, 2m)
    proj = np.concatenate((hull @ dn.T, hull @ nv.T), axis=1)
    lo, hi = proj.min(axis=0), proj.max(axis=0)
    size = hi - lo                                              # widths, then heights
    k = int(np.argmin(size[:m] * size[m:]))
    lo, hi = lo.tolist(), hi.tolist()
    d0, d1, n0, n1 = lo[k], hi[k], lo[m + k], hi[m + k]
    # corners d0*d + n0*n, d1*d + n0*n, d1*d + n1*n, d0*d + n1*n, all at once
    coef = np.array([[d0, n0], [d1, n0], [d1, n1], [d0, n1]])
    corners = coef[:, :1] * dn[k] + coef[:, 1:] * nv[k]
    return corners.astype(np.float32), d1 - d0, n1 - n0


# ---------------------------------------------------------------------------
# round-join polygon offset (Clipper2 JT_ROUND equivalent for convex input)


def offset_polygon_round(poly: np.ndarray, delta: float, arc_steps: int = 8) -> np.ndarray:
    """Outward offset of a convex CCW/CW polygon by ``delta`` with round
    joins: each vertex contributes arc samples on the circle of radius delta
    between its adjacent edge normals. Returns (M, 2) float64 points.

    One pass over all vertices: edge normals, their angles, each vertex's
    sweep and step count as arrays, then every arc angle a0 + da * k / steps
    in one array and one cos and one sin over it. Bit-identical to the
    per-vertex loop kept in the tests (tests/scalar_oracles.py); a vertex
    with a zero-length adjacent edge contributes nothing."""
    p = np.asarray(poly, dtype=np.float64)
    n = len(p)
    if n < 3 or delta <= 0:
        return p.copy()

    # ensure CCW orientation so outward normals are consistent
    x, y = p[:, 0], p[:, 1]
    x1, y1 = np.concatenate((x[1:], x[:1])), np.concatenate((y[1:], y[:1]))
    if np.dot(x, y1) - np.dot(y, x1) < 0:
        p = p[::-1]

    # edge i runs from vertex i to i+1; vertex i joins edges i-1 and i
    e = np.concatenate((p[1:], p[:1])) - p
    length = np.hypot(e[:, 0], e[:, 1])
    # outward normal (ey, -ex) / length of a CCW edge, as an angle
    safe = np.where(length == 0, 1.0, length)
    ang = np.arctan2(-e[:, 0] / safe, e[:, 1] / safe)
    keep = (length != 0) & (np.concatenate((length[-1:], length[:-1])) != 0)
    if not keep.any():  # no vertex between two real edges: no points, shape (0,)
        return np.empty(0, dtype=np.float64)
    a0 = np.concatenate((ang[-1:], ang[:-1]))[keep]
    # sweep from a0 to a1 the short way around (convex turn)
    da = ang[keep] - a0
    da = np.where(da < 0, da + 2 * np.pi, da)
    da = np.where(da > 2 * np.pi, da - 2 * np.pi, da)
    steps = np.maximum(np.ceil(da / (np.pi / arc_steps)).astype(np.int64), 1)
    counts = steps + 1
    k = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    angles = np.repeat(a0, counts) + np.repeat(da, counts) * k / np.repeat(steps, counts)
    arcs = np.stack([np.cos(angles), np.sin(angles)], axis=1)
    return np.repeat(p[keep], counts, axis=0) + delta * arcs


def polygon_perimeter(poly: np.ndarray) -> float:
    p = np.asarray(poly, dtype=np.float64)
    return float(np.sqrt(((p - np.concatenate((p[1:], p[:1]))) ** 2).sum(axis=1)).sum())
