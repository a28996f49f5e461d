"""The closed-form detected-quad model behind the flagship order oracle.

The SQL oracle for flagship_extract re-derives the detector's output quad
bbox in closed form (border -> bilinear ink-band extent -> unclip delta ->
truncation -> inverse-ratio truncation). This
suite pins that model against the REAL detect path so a change to
imageops.resize, the synthetic forward's ink band, dbnet_post's unclip, or
the rounding helpers immediately breaks a fast numpy test instead of
surfacing as a silent oracle hash mismatch.
"""

import math

import numpy as np
import pytest

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators.detector import detect
from mit_spark.operators.forward import get_forward
from mit_spark.operators.ordering import reading_order
from mit_spark.synth import media_ref_for, media_truth, render_media

TH_BASE = 144.5 / 215.0  # blend weight beyond which a BASE(40)/BG(255) edge is ink
TH_MARK = 144.5 / 165.0  # same for a MARK(90)/BG(255) edge (glyph cell 0)


def predict_bbox(page_w: int, page_h: int, rect) -> tuple[int, int, int, int]:
    """Python twin of the `rbox` CTE in queries._flagship_expected_body
    (kept in the same op order so float64 results are bit-identical)."""
    x0, y0, rw, rh, _text, vertical = rect
    bw = page_w if page_w > 400 else 400
    bh = page_h if page_h > 400 else 400
    ratio = 512.0 / max(bw, bh)
    tw = math.floor(bw * ratio + 0.5)
    th = math.floor(bh * ratio + 0.5)
    sx, sy = bw / tw, bh / th
    if vertical:
        lt, rt, tt, bt = TH_BASE, TH_BASE, TH_MARK, TH_BASE
    else:
        lt, rt, tt, bt = TH_MARK, TH_BASE, TH_BASE, TH_BASE

    def run(a, length, scale, t_lo, t_hi):
        jmin = math.floor((a - 1 + t_lo + 0.5) / scale - 0.5) + 1
        jmax = math.ceil((a + length - t_hi + 0.5) / scale - 0.5) - 1
        return jmin, jmax

    jx0, jx1 = run(x0, rw, sx, lt, rt)
    jy0, jy1 = run(y0, rh, sy, tt, bt)
    w, h = jx1 - jx0, jy1 - jy0
    delta = (w * h * 2.3) / (2.0 * (w + h))
    inv = 1.0 / ratio
    return (
        math.trunc(math.floor(jx0 - delta) * inv),
        math.trunc(math.floor(jy0 - delta) * inv),
        math.trunc(math.floor(jx1 + delta) * inv),
        math.trunc(math.floor(jy1 + delta) * inv),
    )


# refs spanning page-size combos, vertical/horizontal, and the shrink branch
REFS = [media_ref_for(f"doc-{i:08d}", off) for i in range(12) for off in range(0, 13, 4)]


@pytest.mark.parametrize("ref", REFS)
def test_closed_form_bbox_matches_detect(ref):
    t = media_truth(ref)
    quads, _ = detect(
        render_media(ref),
        get_forward("synthetic"),
        DetectorOptions(detect_size=512, emit_mask=False),
        PreprocessorOptions(),
    )
    actual = sorted(
        (int(q.pts[:, 0].min()), int(q.pts[:, 1].min()),
         int(q.pts[:, 0].max()), int(q.pts[:, 1].max()))
        for q in quads
    )
    predicted = sorted(predict_bbox(t["width"], t["height"], r) for r in t["rects"])
    assert actual == predicted


def test_closed_form_ranks_match_pipeline_rule():
    """Ranks computed from predicted bboxes via the same RTL/TTB band rule
    must equal reading_order() over the real detected quads."""
    for ref in REFS:
        t = media_truth(ref)
        quads, _ = detect(
            render_media(ref),
            get_forward("synthetic"),
            DetectorOptions(detect_size=512, emit_mask=False),
            PreprocessorOptions(),
        )
        # associate each detected quad with its ground-truth rect via text
        boxes = [predict_bbox(t["width"], t["height"], r) for r in t["rects"]]
        xc = np.array([(b[0] + b[2]) / 2.0 for b in boxes])
        yt = np.array([float(b[1]) for b in boxes])
        wd = np.array([float(b[2] - b[0]) for b in boxes])
        band = np.floor((xc.max() - xc) / max(float(np.median(wd)), 1.0))
        perm = np.lexsort((-xc, yt, band))
        pred_ranks = np.empty(len(boxes), dtype=np.int64)
        pred_ranks[perm] = np.arange(len(boxes))

        actual_ranks = reading_order(quads)
        # quads surface in component-discovery order; match by bbox
        act_by_box = {
            (int(q.pts[:, 0].min()), int(q.pts[:, 1].min()),
             int(q.pts[:, 0].max()), int(q.pts[:, 1].max())): r
            for q, r in zip(quads, actual_ranks)
        }
        for b, pr in zip(boxes, pred_ranks):
            assert act_by_box[b] == pr
