"""Registry timer — runs every registry entry except ``flagship_extract`` at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
in one session and prints two JSON lines:

    line 1: {"metric": "bench_suite_wall_sec", "value": N, "unit": "sec",
             "entries": N, "errors": N, "sf": ..., "cpus": N,
             "host_probe_before": {...}, "host_probe": {...}}
    line 2: {"queries": {name: sec, ...}, "errors": {name: msg, ...}}

Each entry is timed best-of-2 (the first hit pays operator JIT and a cold
page cache); its plan is forced with the noop sink (no collect, no disk
cost). An entry that raises is recorded in "errors" and the suite goes on.
The flagship ``extract()`` is measured and checked by ``perfbench/run.py``.
Without $SPARK_GRAFT_CPUS the session has one slot per CPU this process may
run on (``make_session``'s default), and "cpus" reports it.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from mit_spark.queries import QUERIES  # noqa: E402
from perfbench.probes import host_probe  # noqa: E402

BENCH_QUERIES = [name for name in QUERIES if name != "flagship_extract"]


def run(sf_dir: str) -> tuple[dict, dict]:
    from mit_spark.session import make_session

    probe_before = host_probe()
    spark = make_session(app_name="mit-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        builder, _ = QUERIES[name]
        walls = []
        try:
            for _ in range(2):
                t0 = time.time()
                builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls.append(time.time() - t0)
        except Exception as exc:  # noqa: BLE001 — one bad entry must not
            # cost the whole suite; record it and keep measuring
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        timings[name] = round(min(walls), 3)
    spark.stop()

    sf = sf_dir.rstrip("/").split("sf")[-1]
    summary = {
        "metric": "bench_suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "entries": len(timings),
        "errors": len(errors),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "host_probe_before": probe_before,
        "host_probe": host_probe(),
    }
    return summary, {"queries": timings, "errors": errors}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for line in run(sf_dir):
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
