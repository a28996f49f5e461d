"""spark-submit entry point.

Usage:
    spark-submit --py-files mit_spark.zip main.py \
        --input /root/testdata/sf0.01 --output /tmp/extract_out \
        --buckets 64 --detect-size 1024 [--no-resume] [--limit N] [--master URL]

Reads the interleaved docs table (derived deterministically from the sf
dir), runs the bucketed resumable extraction, prints one metrics JSON line,
and exits 1 when any bucket failed (its lineage row holds the error).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python mit_spark/main.py` invocation (no --py-files): make the
# package importable from the repo root (make_session does the same for the
# Python workers)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="sf dir with documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--detect-size", type=int, default=2048)
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.plans.checkpoint import run_extraction
    from mit_spark.session import make_session
    from mit_spark.sources.docs_source import load_docs

    spark = make_session(master=args.master, app_name="mit-spark-extract")
    cfg = PipelineConfig(
        detector=DetectorOptions(detect_size=args.detect_size),
        n_buckets=args.buckets,
    )
    docs = load_docs(spark, args.input, limit=args.limit)
    t0 = time.time()
    metrics = run_extraction(spark, docs, args.output, cfg, resume=not args.no_resume)
    metrics["elapsed_sec"] = round(time.time() - t0, 3)
    metrics["docs_per_sec"] = round(metrics["n_docs"] / max(metrics["elapsed_sec"], 1e-9), 3)
    metrics["spans_per_sec"] = round(metrics["n_spans"] / max(metrics["elapsed_sec"], 1e-9), 3)
    print(json.dumps(metrics))
    return 1 if metrics["buckets_failed"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
