"""Seeded docs corpora for the benchmark workloads.

Each workload's corpus is drawn from ``--seed`` alone: the same seed gives
byte-identical ``(doc_id, spans)`` rows. Text and media payloads come from
the engine's own deterministic generators (``synth.make_text_span``,
``synth.media_ref_for``) keyed by the seed, so a different seed gives
different text, different rasters and different span layouts.

The totals that set a pass's cost are fixed per workload, not drawn: the
per-doc span counts are a shuffled fixed multiset, the media spans are an
exact share of them, and heavy docs come in pairs whose media counts sum to
``HEAVY_PAIR_TOTAL``. The rasters are fixed too: ``synth.media_truth`` gives
each media_ref a width and a height from 320-512 px and 1-4 glyph rects, and
a workload's media spans get a fixed multiset of those (width, height, rects)
shapes, spread evenly over all 64 of them and shuffled by the seed. Seeds
therefore move *which* docs are big, which spans are media and where each
raster shape lands, not how many pixels or glyphs a pass handles.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from mit_spark.synth import make_text_span, media_ref_for, media_truth

# a heavy doc leads with this many text spans, then its media spans
HEAVY_TEXT_SPANS = 4
# as in synth.gen_doc
HEAVY_MIN, HEAVY_MAX = 64, 256
HEAVY_PAIR_TOTAL = HEAVY_MIN + HEAVY_MAX
# normal docs hold 1..12 spans, as in synth.gen_doc
SPANS_PER_DOC = range(1, 13)


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    media_share: float  # exact share of a normal doc's spans that are media
    heavy_every: int  # doc i is heavy iff i % heavy_every == heavy_every - 1; 0 = none
    n_buckets: int
    wave_size: int  # run_extraction buckets per wave
    job: bool  # timed unit: run_extraction (True) or extract() (False)


# Why each workload exists is stated in BENCHMARK.json (media_heavy,
# text_heavy) and perfbench/README.md (bucketed_job).
WORKLOADS = {
    w.name: w
    for w in (
        Workload("media_heavy", n_docs=300, media_share=0.30, heavy_every=50,
                 n_buckets=4, wave_size=4, job=False),
        Workload("text_heavy", n_docs=1200, media_share=0.02, heavy_every=0,
                 n_buckets=4, wave_size=4, job=False),
        Workload("bucketed_job", n_docs=60, media_share=0.05, heavy_every=60,
                 n_buckets=4, wave_size=2, job=True),
    )
}


@dataclass
class Corpus:
    docs: list[dict]  # {"doc_id", "spans": [{"kind","text","media_ref","offset"}]}
    heavy_ids: list[str]

    @property
    def n_spans(self) -> int:
        return sum(len(d["spans"]) for d in self.docs)

    @property
    def n_media(self) -> int:
        return sum(s["kind"] == "media" for d in self.docs for s in d["spans"])

    @property
    def n_text(self) -> int:
        return self.n_spans - self.n_media

    def media_spans(self) -> list[tuple[str, str, int]]:
        """[(doc_id, media_ref, offset)] in corpus order — the UDF's input rows."""
        return [
            (d["doc_id"], s["media_ref"], s["offset"])
            for d in self.docs
            for s in d["spans"]
            if s["kind"] == "media"
        ]

    def subset(self, doc_ids) -> "Corpus":
        keep = set(doc_ids)
        return Corpus([d for d in self.docs if d["doc_id"] in keep],
                      [i for i in self.heavy_ids if i in keep])


def _shape(media_ref: str) -> tuple[int, int, int]:
    t = media_truth(media_ref)
    return t["width"], t["height"], len(t["rects"])


# every (width, height, rects) shape media_truth gives: 4 x 4 sides, 1-4 rects
SHAPES = sorted({_shape(media_ref_for("shapes", k)) for k in range(2000)})


def _media_refs(n: int, rng: random.Random, seed: int) -> list[str]:
    """``n`` media_refs whose raster shapes are a fixed multiset (SHAPES
    cycled to ``n``) in a seeded order. Candidates come from
    ``media_ref_for``; one that does not fit the current slot is kept for a
    later slot of its shape, so about ``n`` candidates are drawn."""
    want = [SHAPES[k % len(SHAPES)] for k in range(n)]
    rng.shuffle(want)
    spare: dict[tuple, list[str]] = {}
    refs, k = [], 0
    for shape in want:
        while not spare.get(shape):
            ref = media_ref_for(f"s{seed}", k)
            k += 1
            spare.setdefault(_shape(ref), []).append(ref)
        refs.append(spare[shape].pop())
    return refs


def generate(w: Workload, seed: int) -> Corpus:
    rng = random.Random(f"{w.name}:{seed}")
    ids = [f"s{seed}-{i:08d}" for i in range(w.n_docs)]
    heavy = [i for i in range(w.n_docs) if w.heavy_every and i % w.heavy_every == w.heavy_every - 1]
    normal = sorted(set(range(w.n_docs)) - set(heavy))

    heavy_media = []
    for _ in range(0, len(heavy) - 1, 2):
        a = rng.randint(HEAVY_MIN, HEAVY_MAX)
        heavy_media += [a, HEAVY_PAIR_TOTAL - a]
    if len(heavy) % 2:
        heavy_media.append(HEAVY_MIN)

    counts = [SPANS_PER_DOC[k % len(SPANS_PER_DOC)] for k in range(len(normal))]
    rng.shuffle(counts)
    total = sum(counts)
    media_pos = set(rng.sample(range(total), round(w.media_share * total)))

    # is_media per (doc, offset); refs are filled in below
    kinds: dict[int, list[bool]] = {}
    pos = 0
    for i, n in zip(normal, counts):
        kinds[i] = [pos + off in media_pos for off in range(n)]
        pos += n
    for i, n_media in zip(heavy, heavy_media):
        kinds[i] = [off >= HEAVY_TEXT_SPANS for off in range(HEAVY_TEXT_SPANS + n_media)]
    refs = iter(_media_refs(sum(map(sum, kinds.values())), rng, seed))

    docs = []
    for i in range(w.n_docs):
        spans = [
            {"kind": "media", "text": "", "media_ref": next(refs), "offset": off}
            if media else
            {"kind": "text", "text": make_text_span(ids[i], off)[0], "media_ref": "",
             "offset": off}
            for off, media in enumerate(kinds[i])
        ]
        docs.append({"doc_id": ids[i], "spans": spans})
    return Corpus(docs, [ids[i] for i in heavy])


ARROW_DOCS = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string(), nullable=False),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32(), nullable=False),
                    ]
                )
            ),
            nullable=False,
        ),
    ]
)


def write_docs(corpus: Corpus, table_dir: str, n_files: int) -> None:
    """Write the docs table as ``n_files`` parquet files (one scan split
    each), replacing any previous contents of ``table_dir``."""
    os.makedirs(table_dir, exist_ok=True)
    for name in os.listdir(table_dir):
        os.remove(os.path.join(table_dir, name))
    step = -(-len(corpus.docs) // n_files)
    for k in range(n_files):
        part = corpus.docs[k * step : (k + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part, ARROW_DOCS),
                           os.path.join(table_dir, f"part-{k:05d}.parquet"))
