"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency >= 0.8 between N and 4N executors).

No real cluster exists in this sandbox, so the same flagship extraction job
runs at local[N] and local[4N] on IDENTICAL input (the BASELINE.json-
sanctioned stand-in) and we report throughput at both plus
    efficiency = (throughput_4N / throughput_N) / 4.

Each parallelism level runs in its OWN subprocess: a PySpark JVM pins its
master at first SparkContext creation, so two levels in one process would
silently share the first context's core count.

Method notes:
  * TWO full-size warmup passes per level — the first pass in a fresh JVM
    runs up to 1.7x slower (C2 JIT of codegen'd stages, shuffle + Arrow paths),
    which inflates the low level less than the high one and corrupts the
    ratio; the reference's criterion benches exclude the same class of
    one-time cost (model load, onnx_bench.rs:130-166);
  * measured passes are INTERLEAVED A/B/A/B across the two levels (both
    children stay alive behind a stdin RUN/QUIT protocol), so slow drift in
    the shared sandbox (page cache, sibling load) hits both levels equally
    instead of biasing whichever ran second — the sequential design showed
    +-10-18% window drift between its two halves;
  * best-of-3 per level (criterion-style min) on top of that.

Run:  python BENCH/scaling.py [n_docs]     (env PAIR="2,8" to override; the
default local[1] -> local[4] pair fits a 4-core host without oversubscribing it)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = int(os.environ.get("ROUNDS", "3"))


def serve(cpus: int, n_docs: int) -> None:
    """Child: build the job once, warm up, then execute one measured pass
    per RUN line on stdin until QUIT. All chatter on stdout is one JSON
    object per line, flushed."""
    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.plans.pipeline import extract
    from mit_spark.session import make_session
    from mit_spark.sources.docs_source import load_docs

    spark = make_session(master=f"local[{cpus}]", app_name=f"mit-scaling-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext.defaultParallelism == cpus, "master not honored"
    cfg = PipelineConfig(detector=DetectorOptions(detect_size=512, emit_mask=False))
    # exact deterministic corpus: n_docs must be a multiple of the base id
    # count (5000 at sf0.1) — a limit() over a union would pick an arbitrary
    # subset and the two parallelism levels must see IDENTICAL input
    replicate = max(n_docs // 5000, 1)
    docs = load_docs(spark, SF_DIR, replicate=replicate).cache()
    n = docs.count()
    n_spans = docs.selectExpr("sum(size(spans))").collect()[0][0]
    for _ in range(2):  # full-size warmup (see module docstring)
        extract(spark, docs, cfg).write.format("noop").mode("overwrite").save()
    print(json.dumps({"ready": True, "cpus": cpus, "n_docs": int(n),
                      "n_spans": int(n_spans)}), flush=True)
    for line in sys.stdin:
        if line.strip() == "QUIT":
            break
        t0 = time.time()
        extract(spark, docs, cfg).write.format("noop").mode("overwrite").save()
        print(json.dumps({"wall": round(time.time() - t0, 3)}), flush=True)
    spark.stop()


def _host_phase() -> dict:
    """Record (and guard against) the conditions that corrupt a scaling
    measurement: another live JVM on the box (a concurrent Spark session
    steals cores from the HIGH level disproportionately and biases the
    ratio), and pre-existing load. Refuses to run next to another JVM
    unless SCALING_FORCE=1; loadavg is recorded into the result either way
    so a reader can judge the phase."""
    other_jvms = 0
    try:
        out = subprocess.run(
            ["ps", "-eo", "comm"], capture_output=True, text=True, timeout=10
        ).stdout
        other_jvms = out.count("java")
    except Exception:
        pass
    try:
        la1, la5, la15 = (float(x) for x in open("/proc/loadavg").read().split()[:3])
    except Exception:
        la1 = la5 = la15 = -1.0
    if other_jvms and not os.environ.get("SCALING_FORCE"):
        raise SystemExit(
            f"refusing to measure: {other_jvms} other JVM(s) alive on this box "
            "(a concurrent Spark session biases the ratio; stop it or set "
            "SCALING_FORCE=1)"
        )
    return {"other_jvms_at_start": other_jvms,
            "loadavg_at_start": [la1, la5, la15]}


def main() -> int:
    pair = tuple(int(x) for x in os.environ.get("PAIR", "1,4").split(","))
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    phase = _host_phase()
    procs = {}
    for cpus in pair:
        procs[cpus] = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--serve", str(cpus), str(n_docs)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, bufsize=1, cwd=REPO_ROOT,
        )
    meta = {}
    for cpus, p in procs.items():  # both children warm up concurrently
        meta[cpus] = json.loads(p.stdout.readline())
        assert meta[cpus].get("ready"), meta[cpus]
    walls: dict[int, list[float]] = {c: [] for c in pair}
    for _ in range(ROUNDS):  # interleave A/B per round
        for cpus in pair:
            p = procs[cpus]
            p.stdin.write("RUN\n")
            p.stdin.flush()
            walls[cpus].append(json.loads(p.stdout.readline())["wall"])
    for p in procs.values():
        p.stdin.write("QUIT\n")
        p.stdin.flush()
        p.wait(timeout=120)

    def level(cpus: int) -> dict:
        wall = min(walls[cpus])
        m = meta[cpus]
        return {
            "cpus": cpus,
            "n_docs": m["n_docs"],
            "n_spans": m["n_spans"],
            "wall_sec": round(wall, 2),
            "walls_all": [round(w, 2) for w in walls[cpus]],
            "docs_per_sec": round(m["n_docs"] / wall, 3),
            "spans_per_sec": round(m["n_spans"] / wall, 3),
        }

    low, high = level(pair[0]), level(pair[1])
    eff = (high["docs_per_sec"] / low["docs_per_sec"]) / (pair[1] / pair[0])
    res = {
        "low": low,
        "high": high,
        "scaling_efficiency": round(eff, 3),
        "interleaved": True,
        "rounds": ROUNDS,
        "host_phase": phase,
    }
    print(json.dumps(res, indent=2))
    with open(
        os.path.join(REPO_ROOT, "BENCH", f"scaling_result_{pair[0]}_{pair[1]}.json"), "w"
    ) as f:
        json.dump(res, f, indent=2)
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--serve":
        serve(int(sys.argv[2]), int(sys.argv[3]))
        raise SystemExit(0)
    raise SystemExit(main())
