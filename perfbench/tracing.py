"""The traced run: spans recorded from the benchmark's own code around calls
into each layer's public functions (nothing inside ``mit_spark`` is
instrumented).

Spans live in memory (name, layer, start, end, parent, run id) and are
written as one JSON file when the run ends. A span's self time is its
duration minus the part of it its child spans cover; a layer's self time
is the sum over its spans.

Spark-level spans, each a separate job forced through the noop sink:
  sources.scan               the docs scan
  textclean.clean_text_col   the text-only branch: explode, filter, clean
  pipeline.extract_flat      extract_flat, persisted as it is forced
  pipeline.regroup           regroup over that cached flat frame
  checkpoint.wave            run_extraction(max_waves=1), one call per wave,
                             then checkpoint.resume, done_buckets and
                             read_extracted on the finished dir

``batched_detect`` is replayed in this process over a seeded sample of the
workload's media spans: the replay calls the public phase functions in the
order ``extract_media_spans_batched`` does, then the sample goes through
``extract_media_spans_batched`` itself so the phase sum can be checked
against the call it decomposes. Its phase and busy figures are CPU seconds
of this process per pass over the sample, each the median over rounds.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from mit_spark.functions.textclean import clean_text_col
from mit_spark.operators import batched_detect, forward as fwd
from mit_spark.operators.detector import detect_post, detect_pre, infer_post, infer_pre
from mit_spark.operators.ocr import decode_quads
from mit_spark.operators.ordering import reading_order, span_order
from mit_spark.operators.rearrange import should_rearrange
from mit_spark.plans.checkpoint import done_buckets, read_extracted, run_extraction
from mit_spark.plans.pipeline import extract, extract_flat, regroup
from mit_spark.synth import render_media
from perfbench.checks import observed, verify_job, verify_pass, verify_resume

REPLAY_SPANS = 32
REPLAY_ROUNDS = 5  # each round: batched, replay, replay, batched
PHASE_SUM_TOLERANCE = 0.10

# replay span name -> per-layer metric
PHASES = {
    "synth.render_media": "synth.render_s",
    "detector.detect_pre": "detector.detect_pre_s",
    "detector.infer_pre": "detector.infer_pre_s",
    "forward.synthetic_forward": "forward.synthetic_s",
    "detector.infer_post": "detector.infer_post_s",
    "detector.detect_post": "detector.detect_post_s",
    "ocr.decode_quads": "ocr.decode_s",
    "ordering.reading_order": "ordering.reading_order_s",
}
LAYERS = ("sources", "textclean", "pipeline", "batched_detect", "checkpoint")


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
               "start": time.perf_counter(), "end": None, "cpu": time.process_time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu"] = time.process_time() - rec["cpu"]
            self._stack.pop()

    @staticmethod
    def _end(rec: dict) -> float:
        return time.perf_counter() if rec["end"] is None else rec["end"]

    def duration(self, rec: dict) -> float:
        return self._end(rec) - rec["start"]

    def self_time(self, rec: dict) -> float:
        covered, edge = 0.0, rec["start"]
        for c in sorted((s for s in self.spans if s["parent"] == rec["id"]),
                        key=lambda s: s["start"]):
            lo, hi = max(c["start"], edge), min(self._end(c), self._end(rec))
            if hi > lo:
                covered += hi - lo
                edge = hi
        return self.duration(rec) - covered

    def total(self, name: str) -> float:
        return sum(self.duration(s) for s in self.spans if s["name"] == name)

    def cpu_total(self, name: str) -> float:
        """CPU seconds of this process inside spans called ``name``."""
        return sum(s["cpu"] for s in self.spans if s["name"] == name and s["end"] is not None)

    def layer_self(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"] or "harness"] += self.self_time(s)
        return dict(out)

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        names: dict[str, float] = defaultdict(float)
        for s in self.spans:
            names[s["name"]] += self.self_time(s)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "self_s_by_layer": self.layer_self(),
                       "self_s_by_span": dict(names), "summary": summary,
                       "spans": self.spans}, fh, indent=1)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _max_tasks(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    tasks = [0]
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            if stage:
                tasks.append(stage.numTasks)
    return max(tasks)


class CountingForward:
    """The synthetic forward, counting calls and the images packed into them."""

    def __init__(self) -> None:
        self.calls = 0
        self.images = 0

    def __call__(self, batch):
        self.calls += 1
        self.images += batch.shape[0]
        return fwd.synthetic_forward(batch)


def replay_media(spans, opts, pre, tr: Tracer) -> tuple[list[tuple], int]:
    """extract_media_spans_batched's phases, one span per public phase
    function; returns (rows, quads) with the same rows the batched call
    gives. Poison isolation is left out: a raising phase fails the run."""
    pre_eff = batched_detect.effective_pre(pre)
    staged, found = [], {}
    for idx, (_doc, ref, _off) in enumerate(spans):
        with tr.span("synth.render_media", "batched_detect"):
            img = render_media(str(ref))
        with tr.span("detector.detect_pre", "batched_detect"):
            work, add_border, img_h = detect_pre(img, pre_eff)
        if should_rearrange(work, opts.detect_size):
            raise RuntimeError(f"{ref} takes the rearrange path, which the replay omits")
        with tr.span("detector.infer_pre", "batched_detect"):
            tensor, ctx = infer_pre(work, opts)
        staged.append((idx, img, add_border, img_h, tensor, ctx))

    groups = defaultdict(list)
    for item in staged:
        groups[item[4].shape].append(item)
    for _shape, items in sorted(groups.items()):
        for i0 in range(0, len(items), opts.max_batch_size):
            chunk = items[i0 : i0 + opts.max_batch_size]
            with tr.span("forward.synthetic_forward", "batched_detect"):
                db, mask = fwd.synthetic_forward(np.stack([it[4] for it in chunk]))
            for j, (idx, img, add_border, img_h, _t, ctx) in enumerate(chunk):
                with tr.span("detector.infer_post", "batched_detect"):
                    quads, mask2d = infer_post(db[j : j + 1], mask[j : j + 1], ctx, opts)
                with tr.span("detector.detect_post", "batched_detect"):
                    quads, _m = detect_post(quads, mask2d, add_border, pre_eff, img_h)
                found[idx] = (img, quads)

    rows, n_quads = [], 0
    for idx, (doc_id, ref, off) in enumerate(spans):
        img, quads = found[idx]
        n_quads += len(quads)
        if not quads:
            rows.append((doc_id, "media", "", str(ref), span_order(int(off), 0)))
            continue
        with tr.span("ordering.reading_order", "batched_detect"):
            ranks = reading_order(quads)
        with tr.span("ocr.decode_quads", "batched_detect"):
            texts = decode_quads(img, quads)
        for order, text in sorted((span_order(int(off), int(r)), t) for r, t in zip(ranks, texts)):
            rows.append((doc_id, "media", text, str(ref), order))
    return rows, n_quads


def traced_run(spark, run, tr: Tracer) -> tuple[dict, dict, dict]:
    """Per-layer metrics for one workload, the context counts (workload
    invariants reported beside them) and the failure tally; ``run`` carries
    the set-up state (docs frame, corpus, config, workload, work dir,
    checks)."""
    cfg, docs, checks = run.cfg, run.docs, run.checks
    m: dict[str, float] = {}
    sc = spark.sparkContext

    untraced_df, untraced_obs = observed(extract(spark, docs, cfg))
    with tr.span("untraced.extract") as untraced:
        force(untraced_df)

    with tr.span("traced.extract") as traced:
        with tr.span("sources.scan", "sources"):
            force(docs)
        with tr.span("textclean.clean_text_col", "textclean"):
            text = docs.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "text")
            force(text.select(clean_text_col(F.col("s.text")).alias("text")))
        flat = extract_flat(spark, docs, cfg).persist(StorageLevel.MEMORY_AND_DISK)
        sc.setJobGroup("perfbench.extract_flat", "extract_flat")
        with tr.span("pipeline.extract_flat", "pipeline"):
            force(flat)
        sc.setJobGroup("perfbench.regroup", "regroup")
        with tr.span("pipeline.regroup", "pipeline"):
            force(regroup(flat, cfg))
    m["pipeline.media_tasks"] = _max_tasks(spark, "perfbench.extract_flat")
    context = {"pipeline.flat_rows": flat.count(), "textclean.spans": run.corpus.n_text}
    flat_errors = flat.filter(F.col("kind") == "error").count()
    flat.unpersist()
    checks.check("zero kind='error' rows in extract_flat", flat_errors == 0,
                 f"{flat_errors} error rows")
    untraced_figures = untraced_obs.get
    checks.check("extract_flat rows equal the untraced pass's output spans",
                 context["pipeline.flat_rows"] == untraced_figures["out_spans"],
                 f"{context['pipeline.flat_rows']} flat rows vs "
                 f"{untraced_figures['out_spans']} output spans")
    tally_errors = flat_errors + verify_pass(checks, 0, untraced_figures, run.corpus, cfg,
                                             untraced_figures["out_spans"])

    untraced_s, traced_s = tr.duration(untraced), tr.duration(traced)
    m["sources.scan_s"] = tr.total("sources.scan")
    m["textclean.busy_s"] = tr.total("textclean.clean_text_col")
    m["pipeline.extract_flat_s"] = tr.total("pipeline.extract_flat")
    m["pipeline.regroup_s"] = tr.total("pipeline.regroup")
    m["pipeline.untraced_wall_s"] = untraced_s
    m["pipeline.residual_s"] = untraced_s - (
        m["sources.scan_s"] + m["pipeline.extract_flat_s"] + m["pipeline.regroup_s"])
    m["trace.traced_wall_s"] = traced_s
    m["trace.overhead_s"] = traced_s - untraced_s

    m.update(_trace_batched_detect(run, tr, context))
    tally, job_metrics = _trace_checkpoint(spark, run, tr, context)
    m.update(job_metrics)
    tally["error_rows"] += tally_errors + m["batched_detect.errors"]
    tally["attempted"] += run.corpus.n_spans

    layer_self = tr.layer_self()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = layer_self.get(layer, 0.0)
    return m, context, tally


def _trace_batched_detect(run, tr: Tracer, context: dict) -> dict:
    cfg, checks = run.cfg, run.checks
    opts, pre = cfg.detector, cfg.preprocessor
    media = run.corpus.media_spans()
    sample = random.Random(f"replay:{run.seed}").sample(media, min(REPLAY_SPANS, len(media)))
    # first calls in this process pay imports and allocator warm-up
    batched_detect.extract_media_spans_batched(sample[:4], opts, pre)

    # Each round runs batched, replay, replay, batched, so drift and order
    # effects cancel inside it; every figure is the median over rounds of a
    # round's CPU seconds per pass over the sample. CPU seconds, not wall:
    # the replay is single-process numpy, and host contention would
    # otherwise swamp the phase-sum comparison. The median over rounds keeps
    # one round hit by a burst on the host from deciding the check.
    counting = CountingForward()
    batched = "batched_detect.extract_media_spans_batched"
    names = [batched, *PHASES]
    per_round: dict[str, list[float]] = defaultdict(list)
    for _ in range(REPLAY_ROUNDS):
        before = {name: tr.cpu_total(name) for name in names}
        for which in ("batched", "replay", "replay", "batched"):
            if which == "replay":
                with tr.span("batched_detect.replay", "batched_detect"):
                    replay_rows, n_quads = replay_media(sample, opts, pre, tr)
            else:
                with tr.span(batched, "batched_detect"):
                    rows = batched_detect.extract_media_spans_batched(
                        sample, opts, pre, forward=counting)
        for name in names:
            per_round[name].append((tr.cpu_total(name) - before[name]) / 2)
    phase_sums = [sum(per_round[span][r] for span in PHASES) for r in range(REPLAY_ROUNDS)]
    gaps = [abs(p - b) / b for p, b in zip(phase_sums, per_round[batched])]

    passes = 2 * REPLAY_ROUNDS
    m = {name: statistics.median(per_round[span]) for span, name in PHASES.items()}
    busy_s = statistics.median(per_round[batched])
    phase_sum = statistics.median(phase_sums)
    errors = sum(r[1] == "error" for r in rows)
    m.update({
        "batched_detect.busy_s": busy_s,
        "batched_detect.errors": errors,
        "batched_detect.forward_calls": counting.calls // passes,
        "batched_detect.pack_ratio": counting.images / max(counting.calls, 1),
        "batched_detect.phase_sum_s": phase_sum,
    })
    context.update({
        "batched_detect.spans": len(sample),
        "batched_detect.forward_images": counting.images // passes,
        "ocr.quads": n_quads,
    })
    checks.check("the batched call's forward sees every sampled span once per pass",
                 counting.images == passes * len(sample),
                 f"{counting.images} images over {passes} passes of {len(sample)} spans")
    checks.check("replayed phases give the batched call's rows", replay_rows == rows,
                 f"{len(replay_rows)} replay rows vs {len(rows)} batched rows")
    checks.check("zero kind='error' rows from the batched media call", errors == 0,
                 f"{errors} error rows")
    checks.check(f"batched_detect phase sum within {PHASE_SUM_TOLERANCE:.0%} of busy_s "
                 f"(median over {REPLAY_ROUNDS} rounds)",
                 statistics.median(gaps) <= PHASE_SUM_TOLERANCE,
                 f"phase sum {phase_sum:.4f} s vs busy {busy_s:.4f} s; per-round gaps "
                 + ", ".join(f"{g:.3f}" for g in gaps))
    return m


def _trace_checkpoint(spark, run, tr: Tracer, context: dict) -> tuple[dict, dict]:
    """The stepped job runs over the warm pass's docs (40 docs on the
    extract workloads, all docs on bucketed_job), so a traced run stays
    short."""
    cfg, w, corpus = run.cfg, run.workload, run.warm_corpus
    out_dir = os.path.join(run.work_dir, "traced_job")
    waves, totals = [], {"n_docs": 0, "n_spans": 0, "n_errors": 0}
    with tr.span("checkpoint.job", "checkpoint"):
        for _ in range(cfg.n_buckets + 1):
            with tr.span("checkpoint.wave", "checkpoint") as sp:
                step = run_extraction(spark, run.warm_docs, out_dir, cfg,
                                      wave_size=w.wave_size, max_waves=1)
            if step["buckets_processed"] == 0:
                sp["name"] = "checkpoint.resume"
                break
            waves.append(tr.duration(sp))
            for k in totals:
                totals[k] += step[k]
        with tr.span("checkpoint.done_buckets", "checkpoint"):
            done = done_buckets(spark, out_dir)
        with tr.span("checkpoint.read_extracted", "checkpoint"):
            n_read = read_extracted(spark, out_dir).count()
    verify_resume(run.checks, step)
    run.checks.check("every bucket done after the stepped job", done == set(range(cfg.n_buckets)),
                     f"{len(done)} of {cfg.n_buckets} buckets done")
    run.checks.check("read_extracted count equals input docs", n_read == len(corpus.docs),
                     f"{n_read} rows for {len(corpus.docs)} docs")
    tally = verify_job(spark, run.checks, out_dir, totals, corpus, cfg, run.seed)
    context["checkpoint.waves"] = len(waves)
    return tally, {
        "checkpoint.wave_s": statistics.median(waves) if waves else 0.0,
        "checkpoint.wave_max_s": max(waves, default=0.0),
        "checkpoint.buckets_failed": tally["failed_buckets"],
        "checkpoint.resume_s": tr.total("checkpoint.resume"),
        "checkpoint.done_buckets_s": tr.total("checkpoint.done_buckets"),
        "checkpoint.read_extracted_s": tr.total("checkpoint.read_extracted"),
    }
