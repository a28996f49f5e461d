"""Pluggable batched NN forward — the seam the reference's own tests mock
(det_arrange.rs:457-480 replaces dbnet_batch_forward with canned tensors).

``Forward`` signature: (B, H, W, 3) uint8 -> (db (B,2,H,W) f32 in [0,1]
AFTER sigmoid, mask (B,1,H/2,W/2) f32). This mirrors
det_batch_forward_default (/root/reference/crates/modules/detector/dbnet/
src/lib.rs:85-101): normalize x/127.5-1, NHWC->NCHW, session.run, sigmoid
on the db head. The ONNX adapter reproduces that exactly when onnxruntime
and a model file are available; this container has neither, so the default
is the deterministic synthetic forward (FIXTURES.md F2): an "ink detector"
that fires on the glyph-bar intensity band.
"""

from __future__ import annotations

from typing import Callable, Protocol

import numpy as np

ForwardFn = Callable[[np.ndarray], tuple[np.ndarray, np.ndarray]]

INK_LO = 30
INK_HI = 110
P_INK = 0.95
P_BG = 0.02


def synthetic_forward(batch: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic stand-in for the DBNet ONNX model.

    Ink = every channel within [INK_LO, INK_HI] (glyph BASE/MARK band after
    bilinear resampling); db prob P_INK on ink, P_BG elsewhere; mask head at
    half resolution (2x2 mean pool, an odd last row or column dropped),
    mirroring the real model's half-res mask that infer() upscales by 2
    (dbnet/src/lib.rs:209-218).
    """
    b, h, w, _ = batch.shape
    # uint8 wraparound trick: x in [LO, HI] <=> (x - LO) <= (HI - LO) in u8;
    # per-channel strided compares &='d together — no (B,H,W,3) temp and no
    # all() reduce pass (9x on this numpy build; memory-bound at high
    # worker counts)
    lo, d = np.uint8(INK_LO), np.uint8(INK_HI - INK_LO)
    ink = (batch[..., 0] - lo) <= d
    ink &= (batch[..., 1] - lo) <= d
    ink &= (batch[..., 2] - lo) <= d
    # float32 scalars: the head is built in float32, with no float64 temp
    prob = np.where(ink, np.float32(P_INK), np.float32(P_BG))
    # single-channel heads: the representer slices channel 0 (dbnet.rs:76)
    # and our mask consumer is optional — smaller Arrow/numpy traffic
    db = prob[:, None, :, :]
    # 2x2 mean pool as pair sums over the four stride-2 views, in the order
    # numpy's float32 reshape(b, h2, 2, w2, 2).mean(axis=(2, 4)) adds them:
    # (top-left + top-right) + (bottom-left + bottom-right), then / 4. Bit
    # for bit against that definition: tests/test_property_kernel_oracles.py
    # test_synthetic_forward_equals_its_definition (tests/scalar_oracles.py
    # synthetic_heads).
    h2, w2 = h // 2, w // 2
    p = prob[:, : h2 * 2, : w2 * 2]
    if w2 == 1:
        # one output column: numpy merges the two pooled axes into one run of
        # four and adds it left to right, so keep its mean for this shape
        # (detector tensors are padded to multiples of 32 and never hit it)
        pooled = p.reshape(b, h2, 2, w2, 2).mean(axis=(2, 4))
    else:
        pooled = (p[:, 0::2, 0::2] + p[:, 0::2, 1::2]) + (p[:, 1::2, 0::2] + p[:, 1::2, 1::2])
        pooled /= np.float32(4)
    mask = pooled[:, None, :, :]
    return db, mask


def default_providers() -> list[str]:
    """The reference's platform EP order (base-util/src/onnx.rs:25-36:
    Linux/Windows = TensorRT then CUDA, Windows adds DirectML, macOS =
    CoreML), with onnxruntime's CPU EP as the final fallback."""
    import sys

    if sys.platform == "darwin":
        eps = ["CoreMLExecutionProvider"]
    elif sys.platform.startswith("win"):
        eps = ["TensorrtExecutionProvider", "CUDAExecutionProvider",
               "DmlExecutionProvider"]
    else:
        eps = ["TensorrtExecutionProvider", "CUDAExecutionProvider"]
    return eps + ["CPUExecutionProvider"]


def make_onnx_forward(model_path: str, providers: list | None = None) -> ForwardFn:
    """ONNX adapter with the reference's session config (base-util/src/
    onnx.rs:42-61: opt level 3, parallel execution, intra=4/inter=2
    threads, platform EP order). Import-gated — onnxruntime is absent in
    this container, so the wiring is pinned by tests/test_onnx_forward.py's
    injected fake module."""
    import onnxruntime as ort  # noqa: import-gated by design

    opts = ort.SessionOptions()
    opts.graph_optimization_level = ort.GraphOptimizationLevel.ORT_ENABLE_ALL
    opts.execution_mode = ort.ExecutionMode.ORT_PARALLEL
    opts.intra_op_num_threads = 4
    opts.inter_op_num_threads = 2
    sess = ort.InferenceSession(
        model_path, sess_options=opts, providers=providers or default_providers()
    )

    def forward(batch: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        x = (batch.astype(np.float32) / 127.5 - 1.0).transpose(0, 3, 1, 2)
        out = sess.run(["db", "mask"], {"input": x})
        db = 1.0 / (1.0 + np.exp(-out[0]))
        return db.astype(np.float32), out[1].astype(np.float32)

    return forward


_REGISTRY: dict[str, ForwardFn] = {"synthetic": synthetic_forward}


def get_forward(name: str = "synthetic") -> ForwardFn:
    """Executor-side forward lookup (names travel in configs, not closures)."""
    return _REGISTRY[name]
