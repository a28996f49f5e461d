"""Configuration dataclasses.

Constants preserved bit-for-bit from the reference:
  * DefaultOptions (detect_size=2048, unclip_ratio=2.3, text_threshold=0.5,
    box_threshold=0.7) — /root/reference/crates/interface/src/detectors/mod.rs:114-123
  * SegDetectorRepresenter wiring (min_size=3.0, max_candidates=1000) —
    /root/reference/crates/modules/detector/dbnet/src/lib.rs:165-171
  * max_batch_size=4 — dbnet/src/lib.rs:124-130
  * PreprocessorOptions flags — detectors/mod.rs:13-23

These are plain dicts/dataclasses (never the reference's unsafe raw-bytes
serialization, base-util/src/lib.rs:5-27) and travel to executors as
broadcast-able plain values.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PreprocessorOptions:
    """Port of PreprocessorOptions (detectors/mod.rs:13-23)."""

    invert: bool = False
    gamma_correct: bool = False
    rotate: bool = False
    auto_rotate: bool = False


@dataclass(frozen=True)
class DetectorOptions:
    """Port of DefaultOptions (detectors/mod.rs:84-123) + representer wiring.

    ``pre_filter`` selects the pre-resize denoise on the non-rearrange path:
    the reference always applies a bilateral filter (d=17, sigma=80,
    dbnet/src/lib.rs:135). Pure-numpy bilateral is exact but slow, so the
    synthetic profile defaults to "none"; oracle and pipeline always share
    the same config, so span-sequence equality is preserved either way.
    """

    detect_size: int = 2048
    unclip_ratio: float = 2.3
    text_threshold: float = 0.5
    box_threshold: float = 0.7
    # SegDetectorRepresenter wiring (dbnet/src/lib.rs:165-171)
    min_size: float = 3.0
    max_candidates: int = 1000
    # dbnet/src/lib.rs:124 — ONNX batch size on the rearrange path
    max_batch_size: int = 4
    # "bilateral" (reference parity, dbnet/src/lib.rs:135) | "none"
    pre_filter: str = "none"
    # emit the inpainting mask (A9 post-proc, dbnet lib.rs:209-218) from
    # detect(). The extracted table never consumes it, so the media UDF
    # (batched_detect) runs with it off whatever this says — the Spark-side
    # analogue of column pruning. Parity tests keep it on.
    emit_mask: bool = True


@dataclass(frozen=True)
class PipelineConfig:
    """End-to-end job config (its detector and preprocessor options travel
    to executors as plain dicts)."""

    detector: DetectorOptions = field(default_factory=DetectorOptions)
    preprocessor: PreprocessorOptions = field(default_factory=PreprocessorOptions)
    # number of hash buckets for checkpoint/lineage partitioning
    n_buckets: int = 64
    # per-span poison tolerance (SURVEY.md §2.10): a span whose detect/OCR
    # raises is recorded as an error row instead of failing the task, so one
    # poisoned document cannot kill a 10^12-doc job. Fault injection for
    # tests: media_refs listed here raise inside the UDF.
    fault_inject_refs: tuple = ()


# Output-content spec version: bump when any change alters extracted bytes
# for the SAME input (e.g. the fused boilerplate-regex rewrite, the sha1->md5
# generator switch). checkpoint.run_extraction stamps it next to the lineage
# table and refuses to RESUME a corpus written under a different spec —
# silently mixing cleaning-spec versions in one output table is the failure
# mode this guards (a resumed 10^12-doc job must be byte-consistent).
PIPELINE_SPEC_VERSION = "2"
