"""OCR stage — per-quad crop + deterministic CTC-style decode.

The reference only defines the trait (`Ocr::detect(image, areas) ->
Vec<Quadrilateral>`, /root/reference/crates/interface/src/ocr/mod.rs:3-11 —
no implementation exists). Our concrete recognizer decodes the synthetic
glyph-bar encoding (mit_spark.synth): within the detected quad's bounding
box it finds the tight ink rectangle, splits it into CELL-px cells along
the text direction, and reads each cell's MARK-band width as a digit —
a greedy argmax/collapse decode over an exact, deterministic "font".

A real CTC/attention recognizer drops in at decode_quad() with the same
signature (crop -> text); everything around it (quad canonical order,
vertical flag, reading order, Spark plumbing) is recognizer-agnostic.

decode_quad is a fixed handful of array operations per quad (one count per
line, one sum per cell), bit-identical to the per-cell loop kept as its
definition in tests/scalar_oracles.py.
"""

from __future__ import annotations

import numpy as np

from mit_spark.operators.geometry import Quad
from mit_spark.synth import ALPHABET, CELL, MARK


def _every_channel(m: np.ndarray) -> np.ndarray:
    """``m.all(axis=2)`` as one AND per channel: numpy reduces a 3-long last
    axis several times slower than it ANDs the three planes."""
    out = m[:, :, 0]
    for c in range(1, m.shape[2]):
        out = out & m[:, :, c]
    return out


def decode_quad(img: np.ndarray, quad: Quad) -> str:
    """Recover the text inside one detected quad from the ORIGINAL raster
    (quads are in original pixel coordinates after ratio adjustment, so the
    OCR path sees unresampled pixels).

    A line (column, or row when vertical) of the tight ink box is marked
    when more than half its pixels are MARK; cell i holds lines
    [i * CELL, (i + 1) * CELL) and reads its marked-line count minus one as
    a digit. One count per line and one sum per cell, with the integer test
    2 * count > n in place of mean > 0.5 (the same on every count):
    bit-identical to the per-cell loop kept in the tests
    (tests/scalar_oracles.py)."""
    h, w = img.shape[:2]
    (x0, y0), (x1, y1) = quad.pts.min(axis=0).tolist(), quad.pts.max(axis=0).tolist()
    x0, x1 = min(max(x0, 0), w - 1), min(max(x1, 0), w - 1)
    y0, y1 = min(max(y0, 0), h - 1), min(max(y1, 0), h - 1)
    crop = img[y0 : y1 + 1, x0 : x1 + 1]
    if crop.size == 0:
        return ""

    dark = _every_channel(crop < 128)
    rows = np.flatnonzero(dark.any(axis=1))
    if not len(rows):
        return ""
    cols = np.flatnonzero(dark.any(axis=0))
    tight = crop[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
    th, tw = tight.shape[:2]

    horizontal = tw > th
    length = tw if horizontal else th
    n_cells = max(int(round(length / CELL)), 1)

    # mark pixels: the lighter ink band encoding the digit
    mark = _every_channel(np.abs(tight.astype(np.int16) - MARK) <= 15)
    if horizontal:
        marked = 2 * mark.sum(axis=0) > th
    else:
        marked = 2 * mark.sum(axis=1) > tw
    # cells past the ink are empty; ink past the last cell is not read
    lines = np.zeros(n_cells * CELL, dtype=np.int64)
    lines[: min(length, len(lines))] = marked[: len(lines)]
    digits = lines.reshape(n_cells, CELL).sum(axis=1) - 1
    return "".join(ALPHABET[v] for v in digits.tolist() if 0 <= v < len(ALPHABET))


def decode_quads(img: np.ndarray, quads: list[Quad]) -> list[str]:
    return [decode_quad(img, q) for q in quads]
