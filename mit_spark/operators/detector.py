"""The detector — numpy port of the reference's detect()/infer() lifecycle.

Parity sources:
  * Detector::detect wrapper (border-400, preprocess flags, auto-rotate
    rerun, mask/quad un-rotation):
    /root/reference/crates/interface/src/detectors/common.rs:8-79 and
    detectors/mod.rs:47-68
  * DbNetDetector::infer (rearrange-vs-resize branch, forward, representer,
    filter + area>=16, mask x255 resize x2 crop):
    /root/reference/crates/modules/detector/dbnet/src/lib.rs:104-221

One image per call — the Spark N-dimension is the Arrow batch in
mit_spark.plans.pipeline; this module stays Spark-free so the single-process
oracle (mit_spark.oracle) imports the exact same code.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators import imageops as ops
from mit_spark.operators.dbnet_post import filter_boxes_and_adjust, representer_call
from mit_spark.operators.forward import ForwardFn
from mit_spark.operators.geometry import Quad
from mit_spark.operators.rearrange import det_rearrange_forward, should_rearrange


def infer_pre(
    img: np.ndarray, opts: DetectorOptions
) -> tuple[np.ndarray, tuple]:
    """The non-rearrange branch of infer() UP TO the forward input tensor
    (dbnet/src/lib.rs:131-141): optional bilateral denoise, aspect resize,
    pad to the 256 multiple. Returns (resized (H,W,3) uint8, ctx) where ctx
    carries everything infer_post needs — split out so the batched media
    path (operators/batched_detect.py) can PACK same-shaped tensors from
    different images into one forward call."""
    pre = img
    if opts.pre_filter == "bilateral":
        pre = ops.bilateral_filter(pre, 17, 80.0, 80.0)
    resized, ratio, pad_w, pad_h = ops.resize_aspect_ratio(pre, opts.detect_size, 1.0)
    shape = (resized.shape[0], resized.shape[1])
    return resized, (shape, 1.0 / ratio, pad_w, pad_h)


def infer_post(
    db: np.ndarray, mask: np.ndarray, ctx: tuple, opts: DetectorOptions
) -> tuple[list[Quad], np.ndarray]:
    """Everything after the forward in infer() (dbnet/src/lib.rs:150-221):
    representer -> box filter -> area gate; mask x255 resize x2 pad strip.
    db/mask are the heads for ONE image (leading batch dim of 1)."""
    shape, ratio_wh, pad_w, pad_h = ctx
    mask2d = mask[0, 0] if opts.emit_mask else None

    boxes_b, scores_b = representer_call(
        db,
        [shape],
        thresh=opts.text_threshold,
        box_thresh=opts.box_threshold,
        min_size=opts.min_size,
        max_candidates=opts.max_candidates,
        unclip_ratio=opts.unclip_ratio,
    )
    boxes, scores = boxes_b[0], scores_b[0]
    keep = boxes.reshape(len(boxes), -1).sum(axis=1) > 0 if len(boxes) else np.zeros(0, bool)
    polys = filter_boxes_and_adjust(boxes, ratio_wh, ratio_wh)
    kept_scores = scores[keep] if len(boxes) else scores

    quads = []
    for pts, score in zip(polys, kept_scores):
        q = Quad(pts, float(score))
        if q.area() >= 16.0:  # dbnet lib.rs:206
            quads.append(q)

    if mask2d is None:
        return quads, None
    # mask post-proc (dbnet lib.rs:209-218): x255 clamp, resize x2, strip pad
    m8 = np.clip(mask2d * 255.0, 0.0, 255.0).astype(np.uint8)
    m8 = ops.resize_mask(m8, m8.shape[1] * 2, m8.shape[0] * 2, "bilinear")
    if pad_h > 0 or pad_w > 0:
        m8 = ops.remove_border_mask(m8, m8.shape[1] - pad_w, m8.shape[0] - pad_h)
    return quads, m8


def infer(
    img: np.ndarray, forward: ForwardFn, opts: DetectorOptions
) -> tuple[list[Quad], np.ndarray]:
    """dbnet/src/lib.rs:104-221. Returns (quads, mask uint8 (H,W))."""
    if should_rearrange(img, opts.detect_size):
        shape = (img.shape[0], img.shape[1])
        db, mask = det_rearrange_forward(img, opts.detect_size, opts.max_batch_size, forward)
        ctx = (shape, 1.0, 0, 0)
    else:
        resized, ctx = infer_pre(img, opts)
        db, mask = forward(resized[None, ...])
    return infer_post(db, mask, ctx, opts)


def detect_pre(
    img: np.ndarray, pre: PreprocessorOptions
) -> tuple[np.ndarray, tuple | None, int]:
    """common.rs:8-39 wrapper transforms BEFORE infer: border-400 +
    rotate/invert/gamma flags. Returns (work image, add_border dims-or-None,
    original image height) — the inputs detect_post needs to undo them."""
    img_h = img.shape[0]
    add_border = None
    if min(img.shape[0], img.shape[1]) < 400:  # common.rs:16-21
        add_border = (img.shape[1], img.shape[0])
    work = ops.add_border(img, 400)
    if pre.rotate:
        work = ops.rotate_right(work)
    if pre.invert:
        work = ops.invert(work)
    if pre.gamma_correct:
        work = ops.gamma_correction(work)
    return work, add_border, img_h


def detect_post(
    quads: list[Quad],
    mask: np.ndarray,
    add_border: tuple | None,
    pre: PreprocessorOptions,
    img_h: int,
) -> tuple[list[Quad], np.ndarray]:
    """common.rs:52-77 wrapper transforms AFTER infer: strip the border-400
    from the mask, un-rotate mask + remap quads (x,y)->(y, -x+h)."""
    if add_border is not None and mask is not None:  # common.rs:52-56
        w, h = add_border
        mask = ops.remove_border_mask(mask, w, h)
    if pre.rotate:  # common.rs:58-77
        if mask is not None:
            mask = ops.rotate_left_mask(mask)
        quads = [
            Quad([(int(y), int(-x + img_h)) for x, y in q.pts], q.score) for q in quads
        ]
    return quads, mask


def effective_pre(pre: PreprocessorOptions) -> PreprocessorOptions:
    """The preprocessor flags the (always-firing) auto-rotate rerun actually
    runs with — auto_rotate stripped, everything else kept
    (detectors/mod.rs:59-67)."""
    return replace(pre, auto_rotate=False)


def detect(
    img: np.ndarray,
    forward: ForwardFn,
    opts: DetectorOptions,
    pre: PreprocessorOptions = PreprocessorOptions(),
    infer_fn=None,
) -> tuple[list[Quad], np.ndarray]:
    """Detector::detect + common::detect. Returns (quads in ORIGINAL image
    coordinates, mask uint8). ``infer_fn`` selects the variant (the Detector
    trait's default detect() wraps any infer, detectors/mod.rs:47-68)."""
    infer_fn = infer_fn or infer
    work, add_border, img_h = detect_pre(img, pre)

    quads, mask = infer_fn(work, forward, opts)

    if pre.auto_rotate:
        # common.rs:40-44: `textlines.iter().map(|v| ...).count()` counts ALL
        # elements (map does not filter), so `len*2 >= len` is always true and
        # the empty case is true too -> the rerun ALWAYS fires exactly once,
        # with auto_rotate stripped (detectors/mod.rs:59-67). Preserved as-is:
        # the first pass above is discarded.
        return detect(img, forward, opts, effective_pre(pre), infer_fn)

    return detect_post(quads, mask, add_border, pre, img_h)


# ---------------------------------------------------------------------------
# detector variants ("none" and paddle-style; reference
# crates/modules/detector/{none,paddle}/src/lib.rs)


def infer_none(img: np.ndarray, forward: ForwardFn, opts: DetectorOptions):
    """NoneDetector::infer (none/src/lib.rs:46-64): no boxes, empty mask.
    (The reference returns a dims-only Mask with no data, which its own
    Python binding cannot convert; we return an all-zero mask instead.)"""
    mask = np.zeros(img.shape[:2], dtype=np.uint8) if opts.emit_mask else None
    return [], mask


def fill_polys_mask(quads: list, width: int, height: int) -> np.ndarray:
    """Paddle's full-page quad rasterization (paddle/src/lib.rs:211-264):
    per scanline, edge intersections x = x0 + t*dx truncated to int
    (`as i64` = toward zero), sorted, consecutive pairs filled INCLUSIVE
    with endpoint clamp. Kept distinct from dbnet_post.box_score_fast's
    fill (even-odd pixel-center fill) because the two references round
    differently.

    Vectorized per quad: all scanline/edge intersections in one (rows,
    edges) array, span fill via a +1/-1 difference array cumsummed along x
    (property-tested equal to the scalar scanline port in
    tests/scalar_oracles.py)."""
    mask = np.zeros((height, width), dtype=np.uint8)
    big = np.int64(1) << 62  # sorts non-crossing edges past every real x
    for q in quads:
        p = np.asarray(q.pts if hasattr(q, "pts") else q, dtype=np.int64)
        e0 = p
        e1 = np.roll(p, -1, axis=0)
        keep = e0[:, 1] != e1[:, 1]
        if not keep.any():
            continue
        x0, y0 = e0[keep, 0].astype(np.float64), e0[keep, 1].astype(np.float64)
        x1, y1 = e1[keep, 0].astype(np.float64), e1[keep, 1].astype(np.float64)
        y_min = max(int(p[:, 1].min()), 0)
        y_max = min(int(p[:, 1].max()), height - 1)
        if y_max < y_min:
            continue
        ys = np.arange(y_min, y_max + 1, dtype=np.float64)[:, None]  # (R,1)
        crosses = ((y0 <= ys) & (ys < y1)) | ((y1 <= ys) & (ys < y0))  # (R,E)
        t = (ys - y0) / (y1 - y0)
        xs = np.trunc(x0 + t * (x1 - x0)).astype(np.int64)  # toward zero, as int()
        counts = crosses.sum(axis=1)  # crossings per scanline
        if not counts.any():
            continue
        # work only inside the quad's clipped x-span (diff array + cumsum
        # cost scales with the BOX, not the page width); bounds come from
        # the raw crossing values BEFORE the sentinel masking + sort
        xmin = int(np.clip(xs[crosses].min(), 0, width - 1))
        xmax = int(np.clip(xs[crosses].max(), 0, width - 1))
        xs = np.where(crosses, xs, big)
        xs.sort(axis=1)
        span = xmax - xmin + 1
        diff = np.zeros((ys.shape[0], span + 1), dtype=np.int32)
        rows = np.arange(ys.shape[0])
        for k in range(0, xs.shape[1] - 1, 2):
            sel = counts >= k + 2
            if not sel.any():
                continue
            lo = np.clip(xs[sel, k], 0, width - 1) - xmin
            hi = np.clip(xs[sel, k + 1], 0, width - 1) - xmin
            np.add.at(diff, (rows[sel], lo), 1)
            np.add.at(diff, (rows[sel], hi + 1), -1)
        inside = np.cumsum(diff[:, :span], axis=1) > 0
        np.maximum(
            mask[y_min : y_max + 1, xmin : xmax + 1],
            inside.astype(np.uint8) * np.uint8(255),
            out=mask[y_min : y_max + 1, xmin : xmax + 1],
        )
    return mask


def infer_paddle(img: np.ndarray, forward: ForwardFn, opts: DetectorOptions):
    """PaddleDetector::infer (paddle/src/lib.rs:123-208): max_side_len=960
    downscale (dims snapped to a multiple of 32, PP-OCR convention), DBNet
    head + representer as the get_text_boxes stand-in, inf-score filter
    (lib.rs:169), min-rotated-rect + cycle().skip(2) corner roll
    (lib.rs:176-191), full-page scanline mask at ORIGINAL dims."""
    from mit_spark.operators.contours import min_area_rect

    h, w = img.shape[:2]
    max_side = max(h, w)
    resize_target = max_side if max_side < 960 else 960
    ratio = resize_target / max_side
    tw = max((int(w * ratio) // 32) * 32, 32)
    th = max((int(h * ratio) // 32) * 32, 32)
    resized = ops.resize(img, tw, th, "bilinear")

    db, _ = forward(resized[None, ...])
    boxes_b, scores_b = representer_call(
        db,
        [(th, tw)],
        thresh=opts.text_threshold,
        box_thresh=opts.box_threshold,
        min_size=opts.min_size,
        max_candidates=opts.max_candidates,
        unclip_ratio=opts.unclip_ratio,
    )
    rw, rh = w / tw, h / th

    quads = []
    for pts, score in zip(boxes_b[0], scores_b[0]):
        if not np.isfinite(score) or not pts.reshape(-1).sum() > 0:
            continue
        scaled = np.stack([pts[:, 0] * rw, pts[:, 1] * rh], axis=1)
        corners, _, _ = min_area_rect(scaled.astype(np.float64))
        rolled = np.roll(np.asarray(corners, dtype=np.float64), -2, axis=0)
        quads.append(Quad(rolled.astype(np.int64), float(score)))

    mask = fill_polys_mask(quads, w, h) if opts.emit_mask else None
    return quads, mask


INFER_VARIANTS = {"dbnet": infer, "dbnet_convnext": infer, "paddle": infer_paddle, "none": infer_none}
