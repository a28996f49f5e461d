"""Cross-IMAGE forward batch packing for the media UDF (VERDICT r3 #7).

The reference batches detector forwards WITHIN one image (patch rearrange,
det_arrange.rs:95-129 packs up to max_batch_size=4 patches per ONNX call)
but never ACROSS images — each RawImage runs its own session.run. With a
real model the per-call overhead dominates small pages, so the Spark media
UDF packs same-shaped resized tensors from DIFFERENT images in the Arrow
batch into shared (<=max_batch_size, H, W, C) forward calls, behind the
same ForwardFn seam (operators/forward.py). Packing is possible because
resize_aspect_ratio pads every image to a multiple of 256 per side
(imageops.py resize_aspect_ratio), collapsing the corpus into a handful of
distinct tensor shapes.

Streaming: the span list is one pass. Each span's tensor joins its shape
group; a group is forwarded and finished (DBNet post, reading order, OCR)
as soon as it holds max_batch_size tensors, and the leftover groups flush
at the end. So a task holds at most one partial group per tensor shape,
whatever the Arrow batch length: over 512x512 synth pages the tracemalloc
peak is about 23 MB for 8 spans and for 64 alike. The chunks are those of
grouping the whole list by shape and cutting each group in span order, so
forward calls and pack ratio do not depend on when a group flushes.

Output parity: staging is detect_pre + infer_pre, finishing is infer_post
+ detect_post — the exact single-image functions detector.detect
composes — so (kind, text, media_ref, order) rows are identical to the
per-span path and come out in span order; tests/test_batched_detect.py
asserts row equality AND a strictly lower forward-call count.

auto_rotate note: common.rs:40-44 makes the rerun fire unconditionally and
DISCARD the first pass (see detector.detect); the rerun differs only by
auto_rotate=False, so this path computes the rerun directly — one forward
where the per-span path spends two, with bit-identical output.

Poison isolation (SURVEY.md §2.10) is preserved at span granularity: a
span that raises while staging or finishing (OCR and reading order
included) errors alone, and a forward that raises on a
PACKED batch falls back to per-image forwards so only the poisoned image
errors — one bad payload can never take its batch-mates down with it.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import replace

import numpy as np

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators.detector import (
    detect,
    detect_post,
    detect_pre,
    infer_post,
    infer_pre,
)
from mit_spark.operators.forward import ForwardFn, get_forward
from mit_spark.operators.ocr import decode_quads
from mit_spark.operators.ordering import SPAN_STRIDE, reading_order, span_order
from mit_spark.operators.rearrange import should_rearrange
from mit_spark.synth import render_media


def effective_pre(pre: PreprocessorOptions) -> PreprocessorOptions:
    """The preprocessor flags the (always-firing) auto-rotate rerun actually
    runs with — auto_rotate stripped, everything else kept
    (detectors/mod.rs:59-67)."""
    if not pre.auto_rotate:
        return pre
    return PreprocessorOptions(
        invert=pre.invert,
        gamma_correct=pre.gamma_correct,
        rotate=pre.rotate,
        auto_rotate=False,
    )


def _error_row(span: tuple, e: Exception) -> list[tuple]:
    doc_id, ref, off = span
    return [(doc_id, "error", f"{type(e).__name__}: {e}"[:500], str(ref),
             int(off) * SPAN_STRIDE)]


def _span_rows(span: tuple, img: np.ndarray, quads) -> list[tuple]:
    """OCR + reading order for one detected span, exactly as
    oracle.extract_media_span."""
    doc_id, ref, off = span
    ref, off = str(ref), int(off)
    if not quads:
        return [(doc_id, "media", "", ref, span_order(off, 0))]
    ranks = reading_order(quads)
    texts = decode_quads(img, quads)
    return [
        (doc_id, "media", text, ref, order)
        for order, text in sorted(
            (span_order(off, int(r)), t) for r, t in zip(ranks, texts)
        )
    ]


def extract_media_spans_batched(
    spans: list[tuple],
    opts: DetectorOptions,
    pre: PreprocessorOptions,
    *,
    forward: ForwardFn | None = None,
    fault_refs: frozenset = frozenset(),
) -> list[tuple]:
    """[(doc_id, media_ref, offset)] -> rows
    (doc_id, kind, text, media_ref, order), packing forwards across spans.

    One streaming pass over the span list:
      * per span: render + detect_pre + infer_pre -> (tensor, ctx), and the
        tensor joins its shape group. Spans on the rearrange path (already
        patch-batched internally) run the single-image detect and finish at
        once.
      * a shape group that reaches opts.max_batch_size tensors is flushed:
        one stacked forward call, then per image infer_post + detect_post +
        reading order + OCR. On a packed-call exception each image is
        retried alone, so only the poisoned one errors.
      * after the last span, the leftover groups flush in sorted-shape
        order.
    Each chunk is max_batch_size consecutive spans of one tensor shape
    (the last per shape may be shorter), so forward calls do not depend on
    when a group flushes. At most one partial group per shape is held, so
    memory is bounded by the shape count, not the batch length. Rows come
    out in span order; every span's finish runs inside its own ``try``, so
    a raising span is one kind='error' row.
    """
    forward = forward or get_forward("synthetic")
    pre_eff = effective_pre(pre)
    # the rows carry quads only: never build the inpainting mask
    opts = replace(opts, emit_mask=False)
    out: list[list[tuple]] = [[] for _ in spans]

    def flush(chunk: list) -> None:
        heads = None
        if len(chunk) > 1:
            try:
                db, mask = forward(np.stack([it[4] for it in chunk]))
                heads = [(db[j : j + 1], mask[j : j + 1]) for j in range(len(chunk))]
            except Exception:  # noqa: BLE001 — fall back to per-image
                heads = None
        for j, (idx, img, add_border, img_h, tensor, ctx) in enumerate(chunk):
            try:
                if heads is None:
                    db_j, mask_j = forward(tensor[None, ...])
                else:
                    db_j, mask_j = heads[j]
                quads, mask2d = infer_post(db_j, mask_j, ctx, opts)
                quads, _m = detect_post(quads, mask2d, add_border, pre_eff, img_h)
                out[idx] = _span_rows(spans[idx], img, quads)
            except Exception as e:  # noqa: BLE001 — poison isolation
                out[idx] = _error_row(spans[idx], e)

    groups: dict[tuple, list] = defaultdict(list)
    for idx, span in enumerate(spans):
        ref = str(span[1])
        try:
            if ref in fault_refs:
                raise RuntimeError("fault injection")
            img = render_media(ref)
            work, add_border, img_h = detect_pre(img, pre_eff)
            if should_rearrange(work, opts.detect_size):
                quads, _mask = detect(img, forward, opts, pre_eff)
                out[idx] = _span_rows(span, img, quads)
                continue
            tensor, ctx = infer_pre(work, opts)
        except Exception as e:  # noqa: BLE001 — poison isolation
            out[idx] = _error_row(span, e)
            continue
        group = groups[tensor.shape]
        group.append((idx, img, add_border, img_h, tensor, ctx))
        if len(group) >= opts.max_batch_size:
            flush(groups.pop(tensor.shape))
    for _shape, group in sorted(groups.items()):
        flush(group)
    return [row for rows in out for row in rows]
