"""Single-process numpy oracle (SURVEY.md §7 step 6, FIXTURES.md F3).

Runs the exact same operator code as the Spark pipeline — detector, OCR,
ordering, text cleaning — over plain python lists. This is the golden
reference for span-sequence equality (kind, text, media_ref, order): the
e2e pytest asserts pipeline(docs) == oracle(docs) row for row, the same
golden-equality strategy the reference's tests use (SURVEY.md §5).
"""

from __future__ import annotations

from mit_spark.config import DetectorOptions, PipelineConfig, PreprocessorOptions
from mit_spark.functions.textclean import clean_text_py
from mit_spark.operators.detector import detect
from mit_spark.operators.forward import get_forward
from mit_spark.operators.ocr import decode_quads
from mit_spark.operators.ordering import reading_order, span_order
from mit_spark.synth import render_media


def extract_media_span(
    media_ref: str, offset: int, opts: DetectorOptions, pre: PreprocessorOptions
) -> list[dict]:
    """detect -> OCR -> reading order for one media span; returns output
    spans [(kind='media', text, media_ref, order)], one image at a time
    through ``detector.detect``. The Spark media UDF runs
    ``batched_detect.extract_media_spans_batched`` instead; the two share
    the operators (detect phases, OCR, reading order), not this function,
    and tests compare their rows."""
    img = render_media(media_ref)
    forward = get_forward("synthetic")
    quads, _mask = detect(img, forward, opts, pre)
    if not quads:
        return [
            {"kind": "media", "text": "", "media_ref": media_ref,
             "order": span_order(offset, 0)}
        ]
    ranks = reading_order(quads)
    texts = decode_quads(img, quads)
    out = []
    for q, rank, text in zip(quads, ranks, texts):
        out.append(
            {"kind": "media", "text": text, "media_ref": media_ref,
             "order": span_order(offset, int(rank))}
        )
    out.sort(key=lambda s: s["order"])
    return out


def extract_doc(doc: dict, config: PipelineConfig) -> dict:
    """Oracle for one document: {doc_id, spans:[{kind,text,media_ref,order}]}."""
    out_spans: list[dict] = []
    for span in doc["spans"]:
        off = span["offset"]
        if span["kind"] == "text":
            out_spans.append(
                {"kind": "text", "text": clean_text_py(span["text"]),
                 "media_ref": "", "order": span_order(off, 0)}
            )
        else:
            out_spans.extend(
                extract_media_span(span["media_ref"], off, config.detector, config.preprocessor)
            )
    out_spans.sort(key=lambda s: s["order"])
    return {"doc_id": doc["doc_id"], "spans": out_spans}


def extract_docs(docs: list[dict], config: PipelineConfig | None = None) -> list[dict]:
    config = config or PipelineConfig()
    return [extract_doc(d, config) for d in docs]
