"""Property tests, part 6: the media UDF's array kernels against their
scalar definitions (tests/scalar_oracles.py), compared bit for bit.

box_score_fast, offset_polygon_round (through unclip too) and decode_quad
are hot per-candidate code in the detect/OCR path; each is written as a few
array operations and must give exactly what the per-row / per-vertex /
per-cell loop gives: np.array_equal and ==, never approx. row_extremes_hull
must give convex_hull of all the row extremes it prefilters, and the
synthetic forward's db and mask heads the bytes of their where-and-mean
definition. Inputs: random convex polygons (integer, float, out of frame,
degenerate, both orientations), the hulls and unclipped boxes of real
candidates from the synthetic detector, random quads over random and
rendered rasters, random and real detector batches.
"""

from __future__ import annotations

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402
from scalar_oracles import box_score, decode_quad as decode_quad_def  # noqa: E402
from scalar_oracles import offset_polygon_round as offset_def  # noqa: E402
from scalar_oracles import synthetic_heads  # noqa: E402

from mit_spark.config import DetectorOptions  # noqa: E402

from mit_spark.operators.contours import (  # noqa: E402
    component_row_extremes,
    offset_polygon_round,
    polygon_perimeter,
    row_extremes_hull,
)
from mit_spark.operators.dbnet_post import binarize, box_score_fast, get_mini_boxes, unclip  # noqa: E402
from mit_spark.operators.forward import INK_HI, INK_LO, synthetic_forward  # noqa: E402
from mit_spark.operators.geometry import Quad, convex_hull, polygon_area  # noqa: E402
from mit_spark.operators.ocr import decode_quad  # noqa: E402
from mit_spark.synth import BASE, BG, MARK, media_ref_for, render_media  # noqa: E402

COMMON = settings(max_examples=150, deadline=None)
KINDS = ("integer", "float", "out_of_frame", "sliver", "flat", "tiny", "duplicated", "collinear")


def _convex_polygon(kind: str, seed: int, reverse: bool, start: int) -> np.ndarray:
    """A convex polygon (vertex order CCW, or CW when ``reverse``), rolled to
    start at vertex ``start``; some kinds are degenerate on purpose."""
    rng = np.random.RandomState(seed)
    n = int(rng.randint(3, 14))
    if kind == "integer":
        pts = rng.randint(0, 64, size=(n, 2)).astype(np.float64)
    elif kind == "float":
        pts = rng.uniform(0, 63, size=(n, 2))
    elif kind == "out_of_frame":
        pts = rng.uniform(-20, 84, size=(n, 2)).round(int(rng.randint(0, 3)))
    elif kind == "sliver":  # two adjacent columns: 1-px wide hulls
        x = float(rng.randint(0, 62))
        pts = np.stack([x + rng.randint(0, 2, n), rng.randint(0, 64, n)], axis=1).astype(np.float64)
    elif kind == "flat":  # every vertex on one row
        pts = np.stack([rng.randint(0, 64, n), np.full(n, rng.randint(0, 64))], axis=1)
        pts = pts.astype(np.float64)
    elif kind == "tiny":  # inside one or two pixels
        pts = rng.uniform(0, 1.6, size=(n, 2)) + rng.randint(0, 62, size=2)
    else:
        pts = rng.randint(0, 64, size=(n, 2)).astype(np.float64)
    hull = convex_hull(pts)
    if kind == "duplicated" and len(hull):  # zero-length edges
        hull = np.repeat(hull, rng.randint(1, 3, len(hull)), axis=0)
    if kind == "collinear" and len(hull) >= 2:  # midpoints on the edges
        mids = (hull + np.roll(hull, -1, axis=0)) / 2
        hull = np.stack([hull, mids], axis=1).reshape(-1, 2)
    if kind == "flat":  # the hull of a flat set is 2 points; keep all
        pts = pts[np.argsort(pts[:, 0], kind="stable")]
        hull = np.concatenate([pts, pts[::-1][1:-1]])
    if reverse:
        hull = hull[::-1]
    return np.roll(hull, -start % max(len(hull), 1), axis=0).copy()


polygons = st.builds(
    _convex_polygon, st.sampled_from(KINDS), st.integers(0, 2**32 - 1), st.booleans(),
    st.integers(0, 40),
)


@COMMON
@given(polygons, st.integers(0, 2**32 - 1), st.sampled_from([(64, 64), (48, 80), (9, 7)]))
def test_box_score_fast_equals_per_row_fill(poly, seed, shape):
    pred = np.random.RandomState(seed).rand(*shape).astype(np.float32)
    assert box_score_fast(pred, poly) == box_score(pred, poly)


@COMMON
@given(polygons, st.floats(0.01, 40.0), st.sampled_from([8, 3, 1]))
def test_offset_polygon_round_equals_per_vertex_loop(poly, delta, arc_steps):
    if len(poly) >= 3:
        got = offset_polygon_round(poly, delta, arc_steps)
        want = offset_def(poly, delta, arc_steps)
        assert got.dtype == want.dtype and np.array_equal(got, want)


@COMMON
@given(polygons, st.floats(1.0, 3.0))
def test_unclip_equals_per_vertex_loop(poly, ratio):
    perim = polygon_perimeter(poly)
    want = poly if perim <= 0 else offset_def(poly, polygon_area(poly) * ratio / perim)
    assert np.array_equal(unclip(poly, ratio), want)


@COMMON
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1), st.floats(0.05, 0.9))
def test_row_extremes_hull_equals_hull_of_all_extremes(h, w, seed, density):
    rng = np.random.RandomState(seed)
    bm = rng.rand(h, w) < density
    if seed % 2:  # blobs: a few filled discs and bars
        yy, xx = np.mgrid[:h, :w]
        for cy, cx, r in rng.randint(0, 40, size=(3, 3)):
            bm |= (yy - cy) ** 2 + (xx - cx) ** 2 <= r * r // 4
    for ext in component_row_extremes(bm):
        assert np.array_equal(row_extremes_hull(ext), convex_hull(ext.astype(np.float64)))


def _real_tensors():
    """The detector input tensors ((H, W, 3) uint8) of a few rendered pages
    at detect_size 512."""
    from mit_spark.operators.detector import infer_pre

    opts = DetectorOptions(detect_size=512)
    return [infer_pre(render_media(media_ref_for(f"doc-{k:08d}", 3)), opts)[0] for k in range(6)]


def _real_candidates():
    """Hulls and unclip inputs of every candidate of the synthetic detector
    over a few rendered pages: the shapes boxes_from_bitmap really sees."""
    opts = DetectorOptions(detect_size=512)
    out = []
    for tensor in _real_tensors():
        db, _mask = synthetic_forward(tensor[None])
        pred = db[0, 0]
        for comp in component_row_extremes(binarize(pred, opts.text_threshold)):
            hull = convex_hull(comp.astype(np.float64))
            assert np.array_equal(row_extremes_hull(comp), hull)
            out.append((pred, hull, get_mini_boxes(hull)[0].astype(np.float64)))
    assert len(out) >= 10
    return out


def test_real_candidates_match_their_definitions():
    for pred, hull, box in _real_candidates():
        assert box_score_fast(pred, hull) == box_score(pred, hull)
        for ratio in (1.5, 2.2, 2.3):
            perim = polygon_perimeter(box)
            if perim > 0:
                want = offset_def(box, polygon_area(box) * ratio / perim)
                assert np.array_equal(unclip(box, ratio), want)


def _ink_mixed_batch(seed: int, b: int, h: int, w: int) -> np.ndarray:
    """Random uint8 pixels, about half of them drawn from one below to one
    above the ink band in every channel, so both heads see ink, background
    and the band's edges."""
    rng = np.random.RandomState(seed)
    batch = rng.randint(0, 256, size=(b, h, w, 3)).astype(np.uint8)
    near = rng.rand(b, h, w) < 0.5
    batch[near] = rng.randint(INK_LO - 1, INK_HI + 2, size=(int(near.sum()), 3))
    return batch


def _forward_batches():
    for b in (1, 4):
        for h, w in ((512, 512), (511, 385), (2, 2), (385, 2), (1, 3)):
            yield f"random-b{b}-{h}x{w}", _ink_mixed_batch(b * 1000 + h + w, b, h, w)
    yield "all-ink", np.full((2, 64, 96, 3), (INK_LO + INK_HI) // 2, dtype=np.uint8)
    yield "no-ink", np.full((2, 64, 96, 3), INK_HI + 1, dtype=np.uint8)
    yield "real-pages", np.stack(_real_tensors())


def test_synthetic_forward_equals_its_definition():
    """db and mask of synthetic_forward against scalar_oracles.synthetic_heads:
    same shape, dtype and bytes. The golden digests cannot see a one-ulp
    drift of the mask head: the media rows never read it and the detect
    digest sees it only after uint8 quantisation."""
    for name, batch in _forward_batches():
        got, want = synthetic_forward(batch), synthetic_heads(batch)
        for head, g, x in zip(("db", "mask"), got, want):
            assert g.shape == x.shape and g.dtype == x.dtype == np.float32, (name, head)
            assert g.tobytes() == x.tobytes(), (name, head)


PALETTE = np.array([0, BASE, 100, MARK - 16, MARK - 15, MARK, MARK + 15, MARK + 16,
                    127, 128, BG], dtype=np.uint8)


@COMMON
@given(st.integers(0, 2**32 - 1), st.integers(1, 60), st.integers(1, 60), st.booleans())
def test_decode_quad_equals_per_cell_loop_on_random_rasters(seed, h, w, grey):
    rng = np.random.RandomState(seed)
    # mostly MARK and BASE, so cells hold marked lines near the 50% cut
    weights = np.array([1, 6, 1, 1, 1, 8, 1, 1, 1, 1, 3], dtype=np.float64)
    idx = rng.choice(len(PALETTE), size=(h, w, 1 if grey else 3), p=weights / weights.sum())
    img = np.ascontiguousarray(np.broadcast_to(PALETTE[idx], (h, w, 3)))
    for _ in range(4):
        q = Quad(rng.randint(-10, max(h, w) + 10, size=(4, 2)), 1.0)
        assert decode_quad(img, q) == decode_quad_def(img, q)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 10**9), st.integers(0, 40), st.integers(0, 2**32 - 1))
def test_decode_quad_equals_per_cell_loop_on_rendered_pages(docno, offset, seed):
    from mit_spark.synth import media_truth

    ref = media_ref_for(f"doc-{docno:08d}", offset)
    img = render_media(ref)
    rng = np.random.RandomState(seed)
    for x0, y0, rw, rh, _text, _vertical in media_truth(ref)["rects"]:
        # around the glyph rect, with a jitter that may cut into it
        j = rng.randint(-8, 22, size=(4, 2))
        pts = np.array([[x0, y0], [x0 + rw, y0], [x0 + rw, y0 + rh], [x0, y0 + rh]])
        q = Quad(pts + j * np.array([[-1, -1], [1, -1], [1, 1], [-1, 1]]), 1.0)
        assert decode_quad(img, q) == decode_quad_def(img, q)
