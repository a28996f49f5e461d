"""Public single-image API — mirrors the reference's PyO3 module
``rusty_manga_image_translator`` (crates/py-bindings/src/lib.rs:253-261)
class-for-class and method-for-method, so a user of the reference can
switch imports and run their existing script (example/python-lib.py)
against this engine unchanged. The distributed surface is
``mit_spark.plans.pipeline.extract`` — this facade shares the identical
numpy core, which is what makes the per-document outputs equal.

Differences, all deliberate:
  * providers are accepted and recorded but only validated (no GPU EPs in
    this container); the ONNX seam is mit_spark.operators.forward;
  * the "none" detector returns an all-zero mask instead of the
    reference's dims-only empty Mask (which its own binding cannot
    convert to numpy — Array2::from_shape_vec fails on empty data,
    py-bindings lib.rs:231-234).
"""

from __future__ import annotations

import numpy as np

from mit_spark.config import DetectorOptions, PreprocessorOptions
from mit_spark.operators import detector as _det
from mit_spark.operators.forward import get_forward
from mit_spark.operators.geometry import Quad

_VALID_PROVIDERS = {"cuda", "coreml", "directml", "tensorrt"}


class PyDefaultOptions:
    """lib.rs:84-101 — (detect_size, unclip_ratio, text_threshold,
    box_threshold); remaining knobs keep DetectorOptions defaults, EXCEPT
    pre_filter: the reference's detect path always bilateral-filters the
    non-rearrange input (dbnet/src/lib.rs:135), so the parity API turns it
    on — the fast "none" profile is the distributed pipeline's opt-in
    (PipelineConfig), not this surface's default."""

    def __init__(self, detect_size: int, unclip_ratio: float,
                 text_threshold: float, box_threshold: float):
        self.inner = DetectorOptions(
            detect_size=int(detect_size),
            unclip_ratio=float(unclip_ratio),
            text_threshold=float(text_threshold),
            box_threshold=float(box_threshold),
            pre_filter="bilateral",
        )

    @staticmethod
    def default() -> "PyDefaultOptions":
        """DefaultOptions::default() (detectors/mod.rs:114-123)."""
        return PyDefaultOptions(2048, 2.3, 0.5, 0.7)


class PyPreprocessorOptions:
    """lib.rs:103-120 — (invert, gamma_correct, rotate, auto_rotate)."""

    def __init__(self, invert: bool, gamma_correct: bool, rotate: bool, auto_rotate: bool):
        self.inner = PreprocessorOptions(
            invert=bool(invert),
            gamma_correct=bool(gamma_correct),
            rotate=bool(rotate),
            auto_rotate=bool(auto_rotate),
        )


class PyImage:
    """lib.rs:128-169 — RawImage wrapper: packed RGB u8 (H, W, 3)."""

    def __init__(self, path: str):
        """Load a PNG, baseline JPEG or MITB file, as RawImage::new loads an
        image file (crates/interface/src/image/mod.rs:155-177)."""
        from mit_spark.operators.multimodal import decode_frames

        with open(path, "rb") as f:
            frames = decode_frames(f.read())
        # MITB decodes to read-only frombuffer views; the reference
        # binding's to_numpy gives a writable array (lib.rs:160-166), and
        # user scripts mutate it in place — explicit copy (ascontiguousarray
        # would return the same read-only view for contiguous input)
        self.arr = frames[0].copy()

    @staticmethod
    def from_numpy(array: np.ndarray) -> "PyImage":
        img = PyImage.__new__(PyImage)
        a = np.ascontiguousarray(array, dtype=np.uint8)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("expected (H, W, 3) uint8")
        img.arr = a
        return img

    def to_numpy(self) -> np.ndarray:
        return self.arr


class PyQuadrilateral:
    """lib.rs:171-201 — accessor parity with textlines.rs:10-69."""

    def __init__(self, quad: Quad):
        self.inner = quad

    def score(self) -> float:
        return self.inner.score

    def aspect_ratio(self) -> float:
        return self.inner.aspect_ratio()

    def area(self) -> float:
        return self.inner.area()

    def vertical(self) -> bool:
        return self.inner.vertical

    def pts(self) -> list[tuple[int, int]]:
        return [(int(x), int(y)) for x, y in self.inner.pts]

    def structure(self) -> list[tuple[int, int]]:
        return [(int(x), int(y)) for x, y in self.inner.structure()]


class PyDetector:
    """lib.rs:203-251 — load/loaded/unload lifecycle + detect. The model
    here is the forward callable (synthetic by default; ONNX via
    forward.make_onnx_forward when available), loaded lazily exactly like
    DbNetDetector::load (dbnet/src/lib.rs:60-74)."""

    def __init__(self, variant: str, forward_name: str = "synthetic"):
        self._variant = variant
        self._forward_name = forward_name
        self._forward = None

    def load(self) -> None:
        self._forward = get_forward(self._forward_name)

    def loaded(self) -> bool:
        return self._forward is not None

    def unload(self) -> None:
        self._forward = None

    def detect(
        self,
        image: PyImage,
        preprocessor_options: PyPreprocessorOptions | None = None,
        options: PyDefaultOptions | None = None,
    ) -> tuple[list[PyQuadrilateral], np.ndarray]:
        if self._forward is None:
            self.load()  # paddle/src/lib.rs:134-139 lazy-loads on infer
        if preprocessor_options is None:
            preprocessor_options = PyPreprocessorOptions(False, False, False, False)
        if options is None:
            options = PyDefaultOptions.default()  # reference defaults incl. bilateral
        opts = options.inner
        quads, mask = _det.detect(
            image.arr,
            self._forward,
            opts,
            preprocessor_options.inner,
            infer_fn=_det.INFER_VARIANTS[self._variant],
        )
        if mask is None:
            mask = np.zeros(image.arr.shape[:2], dtype=np.uint8)
        return [PyQuadrilateral(q) for q in quads], mask


class Session:
    """lib.rs:20-80 — provider selection + detector factories."""

    def __init__(self, providers: list[str] | None = None):
        if providers is not None:
            bad = [p for p in providers if p not in _VALID_PROVIDERS]
            if bad:
                raise ValueError(f"Invalid provider: {bad[0]}")
        self.providers = providers if providers is not None else sorted(_VALID_PROVIDERS)

    def default_detector(self) -> PyDetector:
        return PyDetector("dbnet")

    def paddle_detector(self) -> PyDetector:
        return PyDetector("paddle")

    def convnext_detector(self) -> PyDetector:
        return PyDetector("dbnet_convnext")

    def none_detector(self) -> PyDetector:
        return PyDetector("none")
