"""SparkSession factory with the engine's tuned defaults.

Performance-relevant settings (all measured in this container, see
BENCH/BASELINE.md):
  * MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_: numpy image buffers at
    detect_size=2048 exceed glibc's 128 KiB mmap threshold; without these,
    every large allocation mmaps + munmaps and pays first-touch page faults
    (~10-20x slowdown in sandboxed kernels). Raising the thresholds keeps
    buffers in the arena for reuse. Exported to python workers via env.
  * OMP/BLAS threads = 1: one python worker per core x N BLAS threads oversubscribes
    (the reference pins ORT intra=4/inter=2 for ONE process,
    base-util/src/onnx.rs:59-60; for a worker-per-core model 1 is correct).
  * Arrow batches capped at 256 records. Worker memory does not grow with
    the cap: the media UDF streams a batch shape group by shape group
    (operators/batched_detect.py). The media task count, not the batch
    size, sets the fixed per-task cost (plans/pipeline.py
    media_task_count; ~0.25 CPU-s per Python task on a 4-core host, most
    of it the zipimporter re-reads that drop_zip_importers spares later
    tasks of a reused worker).
  * spark.executorEnv.PYTHONPATH = the directory holding the mit_spark
    package, so Python workers import it from any cwd. Spark merges it
    with pyspark's own path and with --py-files.
"""

from __future__ import annotations

import os
import sys
import zipimport

WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_worker_env() -> None:
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)


def drop_zip_importers() -> None:
    """Remove the zipimporter entries from ``sys.path_importer_cache``.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (pyspark/worker_util.py ``setup_spark_files``), and on
    CPython 3.11 each cached zipimporter then re-reads its archive's
    directory: 16 of them (pyspark.zip and py4j's zip) cost 0.15-0.29 CPU-s
    per task on a 4-core host. Dropped once in a reused worker, they are not
    re-read by later tasks; an import that needs a zip again rebuilds its
    importer from zipimport's own directory cache."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def make_session(
    master: str | None = None,
    app_name: str = "mit-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
):
    from pyspark.sql import SparkSession

    apply_worker_env()
    # default: $SPARK_GRAFT_CPUS, else every CPU this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")  # NTZ<->TZ casts relabel
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    n_shuffle = shuffle_partitions or int(master[master.find("[") + 1 : -1].replace("*", "0") or 0) or 32
    builder = builder.config("spark.sql.shuffle.partitions", str(max(n_shuffle, 16)))
    for k, v in WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
