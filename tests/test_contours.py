"""Tests for the pure-numpy geometry kernels replacing cv2/Clipper
(connected components, min-area rect, polygon fill, round-join offset).
The general even-odd fill is the scalar definition in scalar_oracles."""

import numpy as np
import pytest
from scalar_oracles import fill_polygon_mask

from mit_spark.operators.contours import (
    connected_components,
    min_area_rect,
    offset_polygon_round,
    polygon_perimeter,
)
from mit_spark.operators.geometry import polygon_area, convex_hull


def test_connected_components_basic():
    # port of imageproc.rs:118-129 smoke: two components
    bm = np.array(
        [
            [0, 1, 1, 0],
            [0, 1, 1, 0],
            [0, 0, 0, 0],
            [1, 1, 0, 0],
        ],
        dtype=bool,
    )
    comps = connected_components(bm)
    assert len(comps) == 2
    sizes = sorted(len(c) for c in comps)
    assert sizes == [2, 4]
    # deterministic order: topmost first
    assert comps[0][:, 1].min() == 0


def test_connected_components_diagonal_8conn():
    bm = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1]], dtype=bool)
    comps = connected_components(bm)
    assert len(comps) == 1 and len(comps[0]) == 3


def test_connected_components_empty():
    assert connected_components(np.zeros((4, 4), dtype=bool)) == []


def test_min_area_rect_axis_aligned():
    ys, xs = np.mgrid[2:7, 3:13]  # 10 wide (x 3..12), 5 tall (y 2..6)
    pts = np.stack([xs.ravel(), ys.ravel()], axis=1)
    corners, w, h = min_area_rect(pts)
    assert sorted([round(w), round(h)]) == [4, 9]  # point extents (cv2 convention)
    assert polygon_area(corners) == pytest.approx(36.0, abs=1e-6)


def test_min_area_rect_rotated():
    # 45°-rotated segment cloud
    t = np.linspace(0, 10, 21)
    pts = np.stack([t, t], axis=1)
    off = np.array([[-0.5, 0.5]]).repeat(21, axis=0)
    pts = np.concatenate([pts, pts + off])
    corners, w, h = min_area_rect(pts)
    long_side = max(w, h)
    assert long_side == pytest.approx(10 * np.sqrt(2), rel=1e-6)


def test_fill_polygon_mask_rect():
    poly = np.array([(2, 1), (8, 1), (8, 5), (2, 5)], dtype=float)
    m = fill_polygon_mask(poly, 12, 8)
    assert m[3, 5]  # interior
    assert not m[0, 0] and not m[7, 11]  # outside
    # area about (8-2)x(5-1) within fill convention slack
    assert 24 <= m.sum() <= 48


def test_offset_polygon_round_expands_rect():
    rect = np.array([(10, 10), (30, 10), (30, 20), (10, 20)], dtype=float)
    delta = 3.0
    out = offset_polygon_round(rect, delta)
    # min-area rect of the offset polygon = original grown by delta each side
    corners, w, h = min_area_rect(out)
    assert sorted([w, h]) == pytest.approx([10 + 2 * delta, 20 + 2 * delta], rel=1e-3)
    # all offset points outside/on the original rect, within delta ring
    hull = convex_hull(out)
    assert polygon_area(hull) > polygon_area(rect)


def test_polygon_perimeter():
    rect = np.array([(0, 0), (4, 0), (4, 3), (0, 3)], dtype=float)
    assert polygon_perimeter(rect) == pytest.approx(14.0)
