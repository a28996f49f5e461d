"""Cross-image forward batch packing (operators/batched_detect.py): the
packed path must emit EXACTLY the per-span rows with strictly fewer
forward calls, and a poisoned image inside a packed call must error alone."""

import numpy as np
import pytest

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators.batched_detect import extract_media_spans_batched
from mit_spark.operators.forward import synthetic_forward
from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.oracle import extract_media_span
from mit_spark.synth import gen_docs

OPTS = DetectorOptions(detect_size=512)
PRE = PreprocessorOptions()


def _spans(n_docs=6):
    spans = []
    for d in gen_docs(n_docs):
        for s in d["spans"]:
            if s["kind"] == "media":
                spans.append((d["doc_id"], s["media_ref"], s["offset"]))
    assert len(spans) >= 8, "need enough media spans to pack"
    return spans


def _counting_forward():
    calls = {"n": 0, "images": 0}

    def fw(batch):
        calls["n"] += 1
        calls["images"] += batch.shape[0]
        return synthetic_forward(batch)

    return fw, calls


def _per_span_rows(spans, opts, pre):
    rows = []
    for doc_id, ref, off in spans:
        for s in extract_media_span(str(ref), int(off), opts, pre):
            rows.append((doc_id, s["kind"], s["text"], s["media_ref"], s["order"]))
    return rows


def test_rows_equal_and_fewer_forward_calls():
    spans = _spans()
    fw, calls = _counting_forward()
    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    want = _per_span_rows(spans, OPTS, PRE)
    assert got == want
    # per-span path = one forward per span; packing must beat it
    assert calls["images"] == len(spans)
    assert calls["n"] < len(spans), (
        f"{calls['n']} calls for {len(spans)} spans — nothing was packed"
    )
    # and no call exceeded the reference's ONNX batch cap
    assert calls["n"] >= -(-len(spans) // OPTS.max_batch_size)


def test_auto_rotate_output_parity_with_fewer_calls():
    """auto_rotate's rerun always fires and discards pass 1 (common.rs:40-44)
    — the batched path computes pass 2 directly: identical rows, and fewer
    forwards than even the non-auto-rotate per-span count."""
    pre = PreprocessorOptions(auto_rotate=True)
    spans = _spans()
    fw, calls = _counting_forward()
    got = extract_media_spans_batched(spans, OPTS, pre, forward=fw)
    assert got == _per_span_rows(spans, OPTS, pre)  # oracle runs the rerun
    assert calls["images"] == len(spans)  # not 2x len(spans)


def test_packed_call_failure_falls_back_to_single_images():
    """A forward that rejects every PACKED call must not lose any output:
    the per-image retry recomputes each batch-mate alone, so the rows are
    identical to the per-span path."""
    spans = _spans()

    def fw(batch):
        if batch.shape[0] > 1:
            raise RuntimeError("packed call rejected")
        return synthetic_forward(batch)

    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    assert got == _per_span_rows(spans, OPTS, PRE)


def test_phase_a_fault_injection_isolates_span():
    spans = _spans()
    bad = str(spans[2][1])
    got = extract_media_spans_batched(
        spans, OPTS, PRE, fault_refs=frozenset([bad])
    )
    err_rows = [r for r in got if r[1] == "error"]
    assert len(err_rows) == sum(1 for s in spans if str(s[1]) == bad)
    assert all(r[3] == bad for r in err_rows)
    assert err_rows[0][4] % SPAN_STRIDE == 0
    # all other spans unaffected
    ok_want = _per_span_rows([s for s in spans if str(s[1]) != bad], OPTS, PRE)
    assert [r for r in got if r[1] != "error"] == ok_want


def test_single_poison_image_errors_alone_in_packed_call():
    """Forward raises iff the batch (packed or single) contains the poison
    image — the per-image fallback then errors exactly that span."""
    spans = _spans()
    poison_ref = str(spans[1][1])
    from mit_spark.operators.detector import detect_pre, infer_pre
    from mit_spark.synth import render_media

    work, _, _ = detect_pre(render_media(poison_ref), PRE)
    poison_tensor, _ = infer_pre(work, OPTS)
    psum = poison_tensor.astype(np.int64).sum()

    def fw(batch):
        for i in range(batch.shape[0]):
            if batch[i].astype(np.int64).sum() == psum and batch[i].shape == poison_tensor.shape:
                raise RuntimeError("poison image")
        return synthetic_forward(batch)

    got = extract_media_spans_batched(spans, OPTS, PRE, forward=fw)
    poison_offs = {int(o) for d, r, o in spans if str(r) == poison_ref}
    err_rows = [r for r in got if r[1] == "error"]
    assert {r[4] // SPAN_STRIDE for r in err_rows} == poison_offs
    ok_want = _per_span_rows([s for s in spans if str(s[1]) != poison_ref], OPTS, PRE)
    assert [r for r in got if r[1] != "error"] == ok_want


def test_raising_ocr_errors_alone(monkeypatch):
    """A span whose OCR raises becomes exactly one error row, and its
    batch-mates (same packed forward calls) keep their per-span rows."""
    from mit_spark.operators import batched_detect
    from mit_spark.synth import render_media

    spans = _spans()
    want = _per_span_rows(spans, OPTS, PRE)
    # a ref with detected text, so its finish reaches decode_quads
    bad = next(str(s[1]) for s in spans
               if any(r[3] == str(s[1]) and r[2] for r in want))
    bad_img = render_media(bad)
    real = batched_detect.decode_quads

    def decode(img, quads):
        if img.shape == bad_img.shape and np.array_equal(img, bad_img):
            raise RuntimeError("ocr failed")
        return real(img, quads)

    monkeypatch.setattr(batched_detect, "decode_quads", decode)
    got = extract_media_spans_batched(spans, OPTS, PRE)
    err_rows = [r for r in got if r[1] == "error"]
    assert len(err_rows) == sum(1 for s in spans if str(s[1]) == bad)
    assert all(r[3] == bad and "ocr failed" in r[2] for r in err_rows)
    assert [r for r in got if r[1] != "error"] == [r for r in want if r[3] != bad]


def test_peak_memory_bounded_by_shape_groups():
    """Tensors are forwarded and finished as their shape group fills, so the
    traced peak over 64 spans stays near the peak over 8 instead of growing
    with every staged tensor and raster."""
    import tracemalloc

    spans = _spans(n_docs=60)[:64]
    assert len(spans) == 64
    extract_media_spans_batched(spans[:4], OPTS, PRE)  # lazy state, imports

    def peak(n):
        tracemalloc.start()
        try:
            extract_media_spans_batched(spans[:n], OPTS, PRE)
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    small, large = peak(8), peak(64)
    assert large < 2 * small, (
        f"peak {large / 1e6:.1f} MB over 64 spans vs {small / 1e6:.1f} MB over 8"
    )
