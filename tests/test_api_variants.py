"""Public API facade (reference py-bindings parity: Session / PyDetector /
PyImage / PyQuadrilateral lifecycle), detector variants (paddle / none),
and per-span poison tolerance (SURVEY.md §2.10)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mit_spark.api import (
    PyDefaultOptions,
    PyImage,
    PyPreprocessorOptions,
    Session,
)
from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.synth import media_ref_for, render_media


def test_example_script_flow():
    """The reference's example/python-lib.py flow, line for line."""
    ses = Session(None)
    det = ses.default_detector()
    o1 = PyPreprocessorOptions(False, False, False, False)
    o2 = PyDefaultOptions(512, 2.3, 0.5, 0.7)
    if not det.loaded():
        det.load()
    img = PyImage.from_numpy(render_media(media_ref_for("doc-00000000", 1)))
    areas, mask = det.detect(img, o1, o2)
    assert len(areas) >= 1
    q = areas[0]
    assert q.area() >= 16.0
    assert len(q.pts()) == 4 and len(q.structure()) == 4
    assert isinstance(q.vertical(), bool) and q.score() > 0
    assert mask.shape == img.to_numpy().shape[:2]
    det.unload()
    assert not det.loaded()


def test_session_provider_validation():
    Session(["cuda", "coreml"])
    with pytest.raises(ValueError):
        Session(["quantum"])


def test_pyimage_roundtrip_and_mitb(tmp_path):
    from mit_spark.operators.multimodal import encode_media
    from mit_spark.operators.png_codec import encode_png

    arr = render_media(media_ref_for("doc-00000003", 2))
    assert np.array_equal(PyImage.from_numpy(arr).to_numpy(), arr)
    path = tmp_path / "img.mitb"
    path.write_bytes(encode_media(arr, "image"))
    assert np.array_equal(PyImage(str(path)).to_numpy(), arr)
    # a PNG file on disk loads like RawImage::new (image/mod.rs:155-177)
    path = tmp_path / "img.png"
    path.write_bytes(encode_png(arr, filter_type=1))
    assert np.array_equal(PyImage(str(path)).to_numpy(), arr)


def test_paddle_detector_variant():
    """Paddle agrees with dbnet on box locations for page-sized synthetic
    input (same DBNet head; different resize/roll path), and rasterizes a
    full-page mask (paddle/src/lib.rs:211-264)."""
    ses = Session(None)
    o1 = PyPreprocessorOptions(False, False, False, False)
    o2 = PyDefaultOptions(512, 2.3, 0.5, 0.7)
    img = PyImage.from_numpy(render_media(media_ref_for("doc-00000000", 1)))
    dq, _ = ses.default_detector().detect(img, o1, o2)
    pq, pmask = ses.paddle_detector().detect(img, o1, o2)
    assert len(pq) == len(dq) >= 1
    assert pmask.shape == img.to_numpy().shape[:2]
    # mask covers exactly the quad interiors (255 inside, 0 outside)
    assert pmask.max() == 255
    for q in pq:
        xs = [p[0] for p in q.pts()]
        ys = [p[1] for p in q.pts()]
        cx, cy = sum(xs) // 4, sum(ys) // 4
        assert pmask[cy, cx] == 255


def test_none_detector_variant():
    ses = Session(None)
    o1 = PyPreprocessorOptions(False, False, False, False)
    o2 = PyDefaultOptions(512, 2.3, 0.5, 0.7)
    img = PyImage.from_numpy(render_media(media_ref_for("doc-00000001", 1)))
    quads, mask = ses.none_detector().detect(img, o1, o2)
    assert quads == []
    assert mask.shape == img.to_numpy().shape[:2] and mask.max() == 0


def test_poison_span_isolation(spark):
    """A media span whose extraction raises becomes a kind='error' flat row;
    the document still emits its other spans and the extracted output never
    contains error spans."""
    from mit_spark.plans.pipeline import extract, extract_flat
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, "/root/testdata/sf0.001", limit=15).cache()
    ref = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("s.media_ref", "doc_id")
        .first()
    )
    cfg = PipelineConfig(
        detector=DetectorOptions(detect_size=512, emit_mask=False),
        fault_inject_refs=(ref.media_ref,),
    )
    flat = extract_flat(spark, docs, cfg).cache()
    errs = flat.filter(F.col("kind") == "error").collect()
    assert [e.media_ref for e in errs] == [ref.media_ref]
    assert "fault injection" in errs[0].text

    out = extract(spark, docs, cfg)
    assert out.count() == 15  # poisoned doc still present
    assert (
        out.selectExpr("exists(spans, s -> s.kind = 'error') AS e").filter("e").count() == 0
    )
    # the poisoned doc keeps its healthy spans
    poisoned = out.filter(F.col("doc_id") == ref.doc_id).select(F.size("spans")).first()[0]
    assert poisoned >= 1
    flat.unpersist()
    docs.unpersist()


def test_lineage_records_errors(spark, tmp_path):
    """Per bucket, lineage n_docs/n_spans equal the written output's counts
    and the one poisoned span's error lands in its document's bucket."""
    from mit_spark.plans.checkpoint import (
        bucket_of,
        read_extracted,
        read_lineage,
        run_extraction,
    )
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, "/root/testdata/sf0.001", limit=15)
    ref = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", "s.media_ref")
        .first()
    )
    cfg = PipelineConfig(
        detector=DetectorOptions(detect_size=512, emit_mask=False),
        n_buckets=4,
        fault_inject_refs=(ref.media_ref,),
    )
    out_dir = str(tmp_path / "out")
    metrics = run_extraction(spark, docs, out_dir, cfg, resume=False)
    assert metrics["n_errors"] == 1
    lin = {r["bucket_id"]: r for r in read_lineage(spark, out_dir).collect()}
    assert sorted(lin) == list(range(cfg.n_buckets))
    want = {
        r["b"]: (r["n_docs"], r["n_spans"])
        for r in read_extracted(spark, out_dir)
        .groupBy(bucket_of(F.col("doc_id"), cfg.n_buckets).alias("b"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("spans")).alias("n_spans"))
        .collect()
    }
    poisoned = spark.range(1).select(bucket_of(F.lit(ref.doc_id), cfg.n_buckets)).first()[0]
    for b, r in lin.items():
        assert (r["n_docs"], r["n_spans"]) == want.get(b, (0, 0)), f"bucket {b}"
        assert r["n_errors"] == (1 if b == poisoned else 0), f"bucket {b}"
    assert metrics["n_docs"] == 15
    assert metrics["n_spans"] == sum(n for _, n in want.values())


def test_default_detector_options_match_reference():
    """Session().default_detector() + PyDefaultOptions.default() must equal
    DefaultOptions::default() (detectors/mod.rs:114-123), with the bilateral
    pre-filter ON — the reference always bilateral-filters the non-rearrange
    detect path (dbnet/src/lib.rs:135); the fast pre_filter='none' profile
    belongs to PipelineConfig, not the parity API."""
    from mit_spark.api import PyDefaultOptions, Session

    det = Session().default_detector()
    assert det._variant == "dbnet"
    opts = PyDefaultOptions.default().inner
    assert (opts.detect_size, opts.unclip_ratio, opts.text_threshold,
            opts.box_threshold) == (2048, 2.3, 0.5, 0.7)
    assert opts.pre_filter == "bilateral"


def test_pyimage_from_path_is_writable(tmp_path):
    """Mutating to_numpy() in place must work like the reference binding
    (lib.rs:160-166 returns an owned writable array)."""
    import numpy as np

    from mit_spark.api import PyImage
    from mit_spark.operators.multimodal import encode_media
    from mit_spark.synth import media_ref_for, render_media

    arr = render_media(media_ref_for("doc-00000002", 0))
    p = tmp_path / "img.mitb"
    p.write_bytes(encode_media(arr))
    img = PyImage(str(p))
    view = img.to_numpy()
    view[0, 0, 0] = 123  # raises ValueError on a read-only frombuffer view
    assert img.to_numpy()[0, 0, 0] == 123
    assert np.array_equal(img.to_numpy()[1:], arr[1:])
