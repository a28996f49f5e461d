"""Mocked-forward post-processing tests — the reference's golden-tensor
technique (det_arrange.rs:418-481) applied to the representer: feed a
deterministic prob map, assert the recovered boxes."""

import numpy as np
import pytest

from mit_spark.operators.dbnet_post import (
    binarize,
    box_score_fast,
    boxes_from_bitmap,
    filter_boxes_and_adjust,
    get_mini_boxes,
    representer_call,
    unclip,
)
from mit_spark.operators.geometry import polygon_area


def _prob_map(h=128, w=128, rects=((20, 30, 60, 46),)):
    """rects: (x0, y0, x1, y1) inclusive pixel spans set to p=0.95."""
    pred = np.zeros((h, w), dtype=np.float32)
    for x0, y0, x1, y1 in rects:
        pred[y0 : y1 + 1, x0 : x1 + 1] = 0.95
    return pred


def test_binarize():
    pred = _prob_map()
    seg = binarize(pred, 0.5)
    assert seg.sum() == (60 - 20 + 1) * (46 - 30 + 1)


def test_get_mini_boxes_ordering():
    pts = np.array([(5, 5), (5, 10), (20, 10), (20, 5)], dtype=np.float64)
    box, sside = get_mini_boxes(pts)
    # [left-top, right-top, right-bottom, left-bottom]
    assert box[0].tolist() == [5, 5]
    assert box[1].tolist() == [20, 5]
    assert box[2].tolist() == [20, 10]
    assert box[3].tolist() == [5, 10]
    assert sside == pytest.approx(5.0)


def test_box_score_fast_full_and_partial():
    pred = _prob_map()
    hull = np.array([(20, 30), (60, 30), (60, 46), (20, 46)], dtype=np.float64)
    assert box_score_fast(pred, hull) == pytest.approx(0.95, abs=0.02)
    # polygon over empty region scores ~0
    hull2 = np.array([(80, 80), (100, 80), (100, 100), (80, 100)], dtype=np.float64)
    assert box_score_fast(pred, hull2) == pytest.approx(0.0, abs=1e-9)


def test_unclip_grows_box():
    box = np.array([(20, 30), (60, 30), (60, 46), (20, 46)], dtype=np.float64)
    out = unclip(box, 2.2)
    assert polygon_area(out[np.lexsort((out[:, 1], out[:, 0]))[:1]].repeat(1, 0)) == 0  # smoke
    from mit_spark.operators.geometry import convex_hull

    assert polygon_area(convex_hull(out)) > polygon_area(box)
    # delta = A*r/P = (40*16)*2.2/112 = 12.57 -> grown extents ~ +2*delta
    xs = out[:, 0]
    assert xs.min() == pytest.approx(20 - 12.57, abs=0.6)
    assert xs.max() == pytest.approx(60 + 12.57, abs=0.6)


def test_boxes_from_bitmap_detects_rect():
    pred = _prob_map(rects=((20, 30, 60, 46), (70, 90, 110, 100)))
    seg = binarize(pred, 0.5)
    boxes, scores = boxes_from_bitmap(pred, seg, 128, 128, box_thresh=0.7)
    keep = boxes.reshape(len(boxes), -1).sum(axis=1) > 0
    assert keep.sum() == 2
    kept = boxes[keep]
    # first corner is the min(x+y) corner; boxes contain their source rects
    for (x0, y0, x1, y1), box in zip(((20, 30, 60, 46), (70, 90, 110, 100)), kept):
        assert box[:, 0].min() <= x0 and box[:, 0].max() >= x1
        assert box[:, 1].min() <= y0 and box[:, 1].max() >= y1
        s = box.sum(axis=1)
        assert s[0] == s.min()
    assert (scores[keep] > 0.9).all()


def test_boxes_from_bitmap_thresholds():
    # low prob inside -> rejected by box_thresh
    pred = np.zeros((64, 64), dtype=np.float32)
    pred[10:20, 10:30] = 0.55
    seg = binarize(pred, 0.5)
    boxes, scores = boxes_from_bitmap(pred, seg, 64, 64, box_thresh=0.8)
    assert (boxes.reshape(len(boxes), -1).sum(axis=1) <= 0).all()
    # tiny component -> rejected by min_size
    pred2 = np.zeros((64, 64), dtype=np.float32)
    pred2[5:7, 5:7] = 0.95
    seg2 = binarize(pred2, 0.5)
    boxes2, _ = boxes_from_bitmap(pred2, seg2, 64, 64, box_thresh=0.7)
    assert boxes2.reshape(len(boxes2), -1).sum() == 0


def test_representer_call_rescales_to_dest():
    pred = _prob_map(h=64, w=64, rects=((16, 16, 47, 31),))
    batch = pred[None, None, :, :]
    boxes_b, scores_b = representer_call(
        batch, [(128, 128)], thresh=0.5, box_thresh=0.7
    )
    boxes = boxes_b[0]
    keep = boxes.reshape(len(boxes), -1).sum(axis=1) > 0
    box = boxes[keep][0]
    # dest is 2x the bitmap -> coords roughly doubled (plus unclip growth)
    assert 0 <= box[:, 0].min() <= 32 and 96 <= box[:, 0].max() <= 128


def test_filter_boxes_and_adjust():
    boxes = np.zeros((3, 4, 2), dtype=np.int64)
    boxes[1] = np.array([(10, 10), (20, 10), (20, 14), (10, 14)])
    out = filter_boxes_and_adjust(boxes, 2.0, 0.5)
    assert out.shape == (1, 4, 2)
    assert out[0].tolist() == [[20, 5], [40, 5], [40, 7], [20, 7]]


def test_fill_polys_mask_vectorized_equals_scanline_port():
    """Property test: the vectorized difference-array rasterizer is
    bit-identical to the direct scalar port of paddle/src/lib.rs:211-264
    across random (including degenerate / out-of-bounds / concave-ordered)
    quads."""
    import numpy as np

    from scalar_oracles import fill_polys_mask as scanline_fill

    from mit_spark.operators.detector import fill_polys_mask
    from mit_spark.operators.geometry import Quad

    rng = np.random.RandomState(11)
    for trial in range(60):
        w, h = int(rng.randint(8, 90)), int(rng.randint(8, 90))
        quads = []
        for _ in range(rng.randint(1, 6)):
            pts = rng.randint(-15, max(w, h) + 15, size=(4, 2)).astype(np.int64)
            if trial % 7 == 0:
                pts[:, 1] = pts[0, 1]  # all-horizontal degenerate
            quads.append(Quad(pts, 1.0))
        got = fill_polys_mask(quads, w, h)
        want = scanline_fill(quads, w, h)
        assert np.array_equal(got, want), f"trial {trial} ({w}x{h})"
