"""Property tests, part 4: the reading-order total order (SURVEY §2.6 O7).

`reading_order` is the one semantic the whole span-sequence equality gate
hangs on: it must be a PERMUTATION, must not depend on quad arrival order
(detection order is contour-discovery order, which is an implementation
detail), and must equal its own definition (RTL band, then top-to-bottom,
then x-desc) derived independently from band membership and pairwise
precedence.
"""

from __future__ import annotations

import statistics
from fractions import Fraction

import numpy as np
import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import assume, example, given, settings, strategies as st  # noqa: E402

from mit_spark.operators.geometry import Quad  # noqa: E402
from mit_spark.operators.ordering import reading_order  # noqa: E402

COMMON = settings(max_examples=80, deadline=None)


def _mk_quads(rects):
    """Axis-aligned quads from (x, y, w, h) tuples."""
    out = []
    for x, y, w, h in rects:
        pts = np.array(
            [[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64
        )
        out.append(Quad(pts, 1.0))
    return out


rects_strategy = st.lists(
    st.tuples(
        st.integers(0, 500),  # x
        st.integers(0, 500),  # y
        st.integers(1, 80),  # w
        st.integers(1, 80),  # h
    ),
    min_size=1,
    max_size=20,
)


def _bands(rects):
    """Column band of each rect, by explicit interval membership: band k
    holds the centers at a distance in [k * bw, (k + 1) * bw) left of the
    rightmost center, bw = median width (at least 1). Exact rationals, and
    the band is found by walking the intervals, not by a floor formula."""
    centers = [Fraction(2 * x + w, 2) for x, _y, w, _h in rects]
    bw = max(Fraction(statistics.median(Fraction(w) for _x, _y, w, _h in rects)), Fraction(1))
    right = max(centers)
    bands = []
    for c in centers:
        k = 0
        while not (k * bw <= right - c < (k + 1) * bw):
            k += 1
        bands.append(k)
    return bands, centers


def _precedes(rects, i, j, bands, centers):
    """Rect i is read before rect j: an earlier (further right) band; in
    the same band, a higher top; at the same top, further right."""
    if bands[i] != bands[j]:
        return bands[i] < bands[j]
    if rects[i][1] != rects[j][1]:
        return rects[i][1] < rects[j][1]
    return centers[i] > centers[j]


def _no_ties(rects):
    """No two rects share band, top and center, so the order is total."""
    bands, centers = _bands(rects)
    return len({(b, r[1], c) for b, r, c in zip(bands, rects, centers)}) == len(rects)


@COMMON
@given(rects_strategy)
def test_reading_order_is_permutation(rects):
    quads = _mk_quads(rects)
    ranks = reading_order(quads)
    assert sorted(ranks) == list(range(len(quads)))


@COMMON
@given(rects_strategy, st.randoms(use_true_random=False))
def test_reading_order_input_order_invariant(rects, rnd):
    """With unique sort keys, each quad's rank must not depend on the
    order quads arrive in (contour-discovery order is arbitrary)."""
    quads = _mk_quads(rects)
    assume(_no_ties(rects))
    base = reading_order(quads)
    perm = list(range(len(quads)))
    rnd.shuffle(perm)
    shuffled = [quads[i] for i in perm]
    got = reading_order(shuffled)
    # quad quads[perm[j]] sits at position j in the shuffled list
    assert [got[j] for j in range(len(perm))] == [base[perm[j]] for j in range(len(perm))]


@COMMON
@given(rects_strategy)
# same band and top: x-desc decides; then a band boundary at exactly bw
@example([(100, 10, 40, 20), (120, 10, 40, 20), (0, 50, 40, 20)])
@example([(0, 0, 10, 5), (15, 9, 10, 5), (20, 3, 10, 5), (25, 7, 10, 5)])
def test_reading_order_matches_scalar_sort_definition(rects):
    """Independent re-derivation from the definition: each rect's rank is
    the number of rects that precede it (RTL band, then top-to-bottom,
    then x-desc), with bands found by interval membership."""
    assume(_no_ties(rects))
    bands, centers = _bands(rects)
    n = len(rects)
    want = [
        sum(_precedes(rects, j, i, bands, centers) for j in range(n) if j != i)
        for i in range(n)
    ]
    assert reading_order(_mk_quads(rects)) == want


# ---------------------------------------------------------------------------
# det_rearrange_forward seam boundedness (W3/W8). The reference pastes
# patches at rust_round(rel_t*h) offsets and halves a FIXED interleave
# length (det_arrange.rs:355-416), so at most a couple of rows per patch
# boundary land at 0.5x/2x when the rounding misaligns — an inherent
# reference artifact the port mirrors (the golden test picks exact-rounding
# dims; this one pins that arbitrary dims stay a THIN band, never global
# corruption).


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32 - 1))
def test_rearrange_forward_seams_are_bounded(seed):
    from mit_spark.operators.rearrange import (
        det_rearrange_forward,
        should_rearrange,
    )

    TGT = 256
    rng = np.random.RandomState(seed)
    w = int(rng.randint(40, 200))
    h = int(rng.randint(w * 4, w * 20))
    img = np.zeros((h, w, 3), dtype=np.uint8)
    assume(should_rearrange(img, TGT))

    def fwd(batch):
        b = batch.shape[0]
        return (
            np.full((b, 2, TGT, TGT), 1.0, dtype=np.float32),
            np.full((b, 1, TGT // 2, TGT // 2), 0.25, dtype=np.float32),
        )

    db, mask = det_rearrange_forward(img, TGT, 4, fwd)
    # constant-in stays constant except seam rows, whose values compose
    # from paste(+1) and halve(/2) steps only — quarter-steps in [0, 2.5]
    # (e.g. 1.5 = paste onto an already-halved band); nothing else
    for vals in (np.unique(db), np.unique(mask) * 4):
        assert float(vals.min()) >= 0.0 and float(vals.max()) <= 2.5
        np.testing.assert_allclose(vals * 4, np.round(vals * 4), atol=1e-6)
    off = float((db != 1.0).mean())
    assert off <= 0.03, f"seam fraction {off:.4f} at dims ({h},{w})"


# ---------------------------------------------------------------------------
# OCR decode exactness under quad dilation. Detection hands OCR a quad
# that is the glyph rect DILATED by unclip (never touching a neighbour:
# media_truth sizes margins for the max dilation), and decode_quad finds
# the tight ink box inside the crop — so the decoded text must equal the
# generator's ground truth for ANY padding up to the layout margin.


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10**9), st.integers(0, 40), st.integers(0, 30))
def test_ocr_decode_exact_under_quad_padding(docno, offset, pad_seed):
    from mit_spark.operators.geometry import Quad
    from mit_spark.operators.ocr import decode_quad
    from mit_spark.synth import media_ref_for, media_truth, render_media

    ref = media_ref_for(f"doc-{docno:08d}", offset)
    t = media_truth(ref)
    img = render_media(ref)
    rng = np.random.RandomState(pad_seed)
    for x0, y0, rw, rh, text, _vertical in t["rects"]:
        p = int(rng.randint(0, 21))  # <= half the 44px layout margin
        pts = np.array(
            [
                [x0 - p, y0 - p],
                [x0 + rw + p, y0 - p],
                [x0 + rw + p, y0 + rh + p],
                [x0 - p, y0 + rh + p],
            ],
            dtype=np.int64,
        )
        assert decode_quad(img, Quad(pts, 1.0)) == text
