"""Skew-robustness evidence: media-heavy documents (64-256 media spans vs
median ~2) must NOT turn into stragglers. The design claim (SURVEY.md §4.1)
is that exploding spans BEFORE the UDF + hash-repartitioning span rows makes
wall time a function of TOTAL media spans, independent of how they are
distributed across documents.

Method: two corpora at the same parallelism —
  * skewed : doc numbers 0..N-1, every 50th is heavy (synth default);
  * uniform: heavy doc numbers skipped entirely (same generator).
Both run warmup + best-of-2; the comparison metric is media-spans/sec
(media detect+OCR dominates cost; the text fraction differs between the
corpora so raw spans/sec would not be apples-to-apples).

Run:  python BENCH/skew.py [n_skewed_docs] [cpus]
(without cpus: make_session's default, the CPUs this process may run on)
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def build(spark, doc_numbers):
    from pyspark.sql import functions as F

    from mit_spark.schema import DOCS

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from mit_spark.synth import gen_doc

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "spans": [gen_doc(d) for d in pdf["doc_id"]]}
            )

    ids = spark.createDataFrame([(n,) for n in doc_numbers], "n long").select(
        F.format_string("doc-%08d", F.col("n")).alias("doc_id")
    )
    ids = ids.repartition(spark.sparkContext.defaultParallelism)
    return ids.mapInPandas(gen, schema=DOCS)


def measure(spark, docs, cfg):
    from pyspark.sql import functions as F

    from mit_spark.plans.pipeline import extract

    docs = docs.cache()
    n_docs = docs.count()
    media = docs.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "media")
    n_media = media.count()
    extract(spark, docs, cfg).write.format("noop").mode("overwrite").save()  # warmup
    walls = []
    for _ in range(2):
        t0 = time.time()
        extract(spark, docs, cfg).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    docs.unpersist()
    wall = min(walls)
    return {
        "n_docs": n_docs,
        "n_media": int(n_media),
        "wall_sec": round(wall, 2),
        "media_per_sec": round(n_media / wall, 1),
    }


def main() -> int:
    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.session import make_session

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    master = f"local[{sys.argv[2]}]" if len(sys.argv) > 2 else None
    spark = make_session(master=master, app_name="mit-skew")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(detector=DetectorOptions(detect_size=512))

    skewed_numbers = list(range(n))
    uniform_numbers = [m for m in range(3 * n) if m % 50 != 49][: 2 * n]

    res = {
        "skewed": measure(spark, build(spark, skewed_numbers), cfg),
        "uniform": measure(spark, build(spark, uniform_numbers), cfg),
        "cpus": spark.sparkContext.defaultParallelism,
    }
    res["media_rate_ratio_skewed_vs_uniform"] = round(
        res["skewed"]["media_per_sec"] / res["uniform"]["media_per_sec"], 3
    )
    print(json.dumps(res, indent=2))
    with open(os.path.join(REPO_ROOT, "BENCH", "skew_result.json"), "w") as f:
        json.dump(res, f, indent=2)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
