"""Benchmark of the mit_spark extraction engine's public entry points.

    python3 perfbench/run.py --workload media_heavy --seed 1 --seconds 20 --trace 0

One client in a closed loop: this process is the Spark driver at
local[<cores>], <cores> being the CPUs this process may run on, and starts the
next unit of work only when the previous one has finished. Each run:

  set-up    start the session; generate the workload's corpus from --seed
            and write it as the docs table (three times; the median counts);
            one untimed warm pass: extract() collected into this process
            over a seeded 40-doc subset that holds the oracle sample, or on
            bucketed_job the first wave of a run_extraction job
  measure   --trace 0: extract() passes into the noop sink, or on
            bucketed_job fresh run_extraction jobs into new out dirs, back
            to back while another one fits in --seconds (at least one);
            bucketed_job then resumes its finished job.
            --trace 1: the per-layer spans of perfbench/tracing.py
  check     the warm pass's (or the job's) output against the input corpus
            and the single-process oracle; every timed unit's doc, error
            and output span counts (an Observation on the noop write, or
            the job's own metrics); the resume against buckets_processed=0

The last stdout line is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end-to-end with --trace 0, per-layer with
--trace 1). A failed
check prints loudly and makes the exit code 1. Spark's scratch files go to
.bench_work/ (removed at exit), trace files to .bench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS_REPEATS = 3
# docs in the untimed extract() warm pass. Its cost is mostly the cold
# start of the JVM and the Python workers, which a larger pass does not
# shorten; the docs only need to hold the oracle sample.
WARM_DOCS = 40


@dataclass
class Run:
    workload: object
    seed: int
    corpus: object
    docs: object
    warm_corpus: object  # the warm pass's docs; the traced job runs over them too
    warm_docs: object
    cfg: object
    work_dir: str
    checks: object


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def describe(name: str, samples: list[float]) -> str:
    q1, q2, q3 = quartiles(samples)
    return (f"{name}: median {q2:.4f} s, quartiles [{q1:.4f}, {q3:.4f}] "
            f"over {len(samples)} samples")


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def measure(spark, run: Run, seconds: float, rss) -> tuple[dict, dict]:
    """The timed closed loop: units back to back while another one still
    fits in ``seconds`` (at least one). Every unit is checked: an extract()
    pass through an Observation riding on the noop write, a job through the
    metrics run_extraction returns. On bucketed_job also the resume and the
    job output checks. Returns (metrics, failure tally)."""
    from mit_spark.plans.checkpoint import run_extraction
    from mit_spark.plans.pipeline import extract
    from perfbench.checks import observed, verify_job, verify_pass, verify_resume
    from perfbench.tracing import force

    w, cfg, c = run.workload, run.cfg, run.corpus
    walls, jobs, passes = [], [], []
    rss.start()
    t_start = time.perf_counter()
    while True:
        if w.job:
            out_dir = os.path.join(run.work_dir, f"job{len(jobs)}")
            wall, job = timed(run_extraction, spark, run.docs, out_dir, cfg,
                              wave_size=w.wave_size)
            jobs.append((out_dir, job))
            passes.append({"rows": job["n_docs"], "out_spans": job["n_spans"],
                           "errors": job["n_errors"],
                           "buckets": job["buckets_processed"]})
        else:
            df, obs = observed(extract(spark, run.docs, cfg))
            wall, _ = timed(force, df)
            passes.append(obs.get)
        walls.append(wall)
        if time.perf_counter() - t_start + wall > seconds:
            break
    peak_mb = rss.stop()
    print("perfbench: " + describe("wall of the timed units", walls), flush=True)

    tally = {"error_rows": 0, "failed_buckets": 0, "attempted": 0}
    for k, figures in enumerate(passes):
        tally["error_rows"] += verify_pass(run.checks, k, figures, c, cfg,
                                           passes[0]["out_spans"])
        tally["attempted"] += c.n_spans
    if jobs:
        out_dir, job = jobs[-1]
        resume_s, resumed = timed(run_extraction, spark, run.docs, out_dir, cfg,
                                  wave_size=w.wave_size)
        verify_resume(run.checks, resumed)
        print(f"perfbench: resume_s = {resume_s:.6g} s (resume of the finished job)",
              flush=True)
        # the job's error rows are already counted by verify_pass
        job_tally = verify_job(spark, run.checks, out_dir, job, c, cfg, run.seed)
        tally["failed_buckets"] += job_tally["failed_buckets"]
        tally["attempted"] += job_tally["attempted"]
    wall_s = statistics.median(walls)
    return {
        "wall_s": wall_s,
        "docs_per_s": len(c.docs) / wall_s,
        "spans_per_s": c.n_spans / wall_s,
        "media_spans_per_s": c.n_media / wall_s,
        "worker_rss_mb": peak_mb,
    }, tally


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mit_spark", "__init__.py")):
        print(f"perfbench: no mit_spark package in {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from mit_spark.session import WORKER_ENV

    missing = {k: v for k, v in WORKER_ENV.items() if k not in os.environ}
    if missing:
        # glibc reads its MALLOC_ settings, and OpenBLAS its thread count,
        # when a process starts. Re-run this process in the environment the
        # PySpark workers get, so the traced replay of the media UDF runs
        # here as it runs in them.
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, **missing})

    from perfbench.corpus import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    work_dir = os.path.join(ROOT, ".bench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        return _run(args, w, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, w, work_dir: str) -> int:
    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.schema import DOCS
    from mit_spark.plans.checkpoint import run_extraction
    from mit_spark.plans.pipeline import extract
    from mit_spark.sources.docs_source import read_table
    from perfbench import sparkenv
    from pyspark.sql import functions as F

    from perfbench.checks import Checks, lost_spans, verify_output, warm_sample
    from perfbench.corpus import generate, write_docs
    from perfbench.probes import WorkerRss, host_probe

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    t_run = time.perf_counter()
    probe_before = host_probe()
    checks = Checks()
    cores = len(os.sched_getaffinity(0))
    session_s, spark = timed(sparkenv.start, ROOT, work_dir, cores)
    rss = WorkerRss(sparkenv.jvm_pid())
    try:
        corpus_s = []
        for _ in range(CORPUS_REPEATS):
            t0 = time.perf_counter()
            corpus = generate(w, args.seed)
            write_docs(corpus, os.path.join(work_dir, "docs.parquet"), cores)
            corpus_s.append(time.perf_counter() - t0)
        docs = read_table(spark, work_dir, "docs", schema=DOCS)
        cfg = PipelineConfig(detector=DetectorOptions(detect_size=512, emit_mask=False),
                             n_buckets=w.n_buckets)
        warm_errors, warm_corpus, warm_docs = 0, corpus, docs
        if w.job:
            warm_s, _ = timed(run_extraction, spark, docs, os.path.join(work_dir, "warm_job"),
                              cfg, wave_size=w.wave_size, max_waves=1)
        else:
            warm_ids = warm_sample(corpus, args.seed, WARM_DOCS)
            warm_corpus = corpus.subset(warm_ids)
            warm_docs = docs.filter(F.col("doc_id").isin(warm_ids))
            warm_s, rows = timed(lambda: extract(spark, warm_docs, cfg).collect())
            warm_errors = lost_spans(warm_corpus, rows)
        setup_s = session_s + statistics.median(corpus_s) + warm_s
        print(f"perfbench: {w.name} seed={args.seed}: {len(corpus.docs)} docs, "
              f"{corpus.n_spans} spans, {corpus.n_media} media spans; set-up "
              f"{setup_s:.3f} s = session {session_s:.3f} s + corpus "
              f"{statistics.median(corpus_s):.3f} s (median of {CORPUS_REPEATS}) + warm "
              f"{'wave' if w.job else f'pass over {len(warm_corpus.docs)} docs'} "
              f"{warm_s:.3f} s", flush=True)
        if not w.job:
            verify_output(checks, warm_corpus, rows, warm_errors, cfg, args.seed)
        run = Run(w, args.seed, corpus, docs, warm_corpus, warm_docs, cfg, work_dir, checks)

        if args.trace:
            from perfbench.tracing import Tracer, traced_run

            tracer = Tracer(f"{w.name}-{args.seed}-{os.getpid()}")
            with tracer.span("run"):
                metrics, context, tally = traced_run(spark, run, tracer)
        else:
            context = {}
            metrics, tally = measure(spark, run, args.seconds, rss)
            metrics["setup_s"] = setup_s
    finally:
        stop_s, _ = timed(sparkenv.stop, spark, rss.seen)
    probe_after = host_probe()

    if args.trace:
        path = os.path.join(ROOT, ".bench_out", f"trace-{w.name}-{args.seed}.json")
        tracer.write(path, {**metrics, **context})
        print(f"perfbench: trace written to {path}", flush=True)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from "
                           "BENCHMARK.json")
    attempted = warm_corpus.n_spans + tally["attempted"] + len(checks.results)
    failed = warm_errors + tally["error_rows"] + tally["failed_buckets"] + checks.failed
    print(f"perfbench: host probe before {probe_before}, after {probe_after}; session "
          f"stop {stop_s:.3f} s; run {time.perf_counter() - t_run:.3f} s", flush=True)
    print(f"perfbench: failed_frac = {failed}/{attempted} = {failed / attempted:.6f} "
          "(error rows + failed buckets + failed checks over spans + buckets + checks)",
          flush=True)
    for name in sorted(metrics):
        print(f"perfbench: {name} = {metrics[name]:.6g} {units[name]}", flush=True)
    for name in sorted(context):
        print(f"perfbench: {name} = {context[name]} (context, not a BENCHMARK.json metric)",
              flush=True)
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if checks.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
