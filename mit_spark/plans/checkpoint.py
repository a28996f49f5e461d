"""Bucketed, resumable execution with per-partition lineage (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Documents are hash-bucketed by doc_id (the parquet stand-in for Iceberg's
``bucket(N, doc_id)`` partition transform — SURVEY.md §4.2; the writeTo()
Iceberg path drops in at _write_wave when the runtime jar is present).
Buckets are processed in waves; each wave writes its buckets' output
(parquet: overwriting its own buckets, so a re-run replaces a bucket, never
adds to it), then appends
  lineage(bucket_id, status, n_docs, n_spans, n_errors, started_at,
          finished_at, error)
rows, and a resumed run anti-joins pending buckets against 'done' lineage —
a killed 10^12-doc job loses at most one wave, never recomputes finished
buckets, and one poisoned bucket records status='failed' instead of killing
the job (reference error model, SURVEY.md §2.10). The parquet sink never
duplicates a document of a wave that died between its write and its
lineage; the Iceberg sink still appends, so such a wave's re-run adds its
documents a second time there.

Layout under ``out_dir``:
    extracted/bucket_id=<N>/*.parquet     (hive-partitioned -> pruning)
    _lineage/*.parquet
"""

from __future__ import annotations

import datetime
import json
import os
import traceback

from pyspark.sql import DataFrame, SparkSession, functions as F

from mit_spark.config import PipelineConfig
from mit_spark.schema import LINEAGE


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime jar is on the session classpath
    (SURVEY.md §7.8: the sandbox ships none, so the parquet fallback runs
    everywhere and the writeTo path activates on clusters that have it)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _ensure_iceberg_table(spark: SparkSession, table: str, n_buckets: int) -> None:
    """Create the extracted-spans Iceberg table with the doc_id hash-bucket
    partition transform (the Iceberg-native twin of the bucket_id hive
    layout the parquet fallback writes)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ("
        "  doc_id STRING,"
        "  spans ARRAY<STRUCT<kind: STRING, text: STRING,"
        "                     media_ref: STRING, `order`: INT>>"
        f") USING iceberg PARTITIONED BY (bucket({n_buckets}, doc_id))"
    )


def _write_wave(spark: SparkSession, out: DataFrame, out_dir: str,
                iceberg_table: str | None) -> None:
    """Write one wave of regrouped docs. Parquet (no table name):
    hive-partitioned by bucket_id under a dynamic partition overwrite, which
    replaces whatever an earlier attempt left in the wave's buckets and
    leaves every other bucket alone, so a wave re-run after a death between
    this write and its 'done' lineage rows rewrites its buckets instead of
    appending them a second time. Iceberg (table name given): an append,
    one atomic snapshot per wave. A partition overwrite is wrong there: the
    table's bucket(N, doc_id) transform hashes with murmur3, not the
    xxhash64 of bucket_of, so one wave's docs land in nearly every Iceberg
    partition and overwritePartitions() would drop earlier waves' rows."""
    if iceberg_table is not None:
        out.drop("bucket_id").writeTo(iceberg_table).append()
    else:
        out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "bucket_id"
        ).parquet(os.path.join(out_dir, "extracted"))


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = _lineage_dir(out_dir)
    try:
        return spark.read.schema(LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE)


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    lin = read_lineage(spark, out_dir)
    return {
        r["bucket_id"]
        for r in lin.filter(F.col("status") == "done").select("bucket_id").distinct().collect()
    }


def _append_lineage(spark: SparkSession, out_dir: str, rows: list[dict]) -> None:
    spark.createDataFrame(
        [
            (
                r["bucket_id"],
                r["status"],
                r.get("n_docs"),
                r.get("n_spans"),
                r.get("n_errors", 0),
                r.get("started_at"),
                r.get("finished_at"),
                r.get("error"),
            )
            for r in rows
        ],
        LINEAGE,
    ).coalesce(1).write.mode("append").parquet(_lineage_dir(out_dir))


def _clear_restart_output(spark: SparkSession, out_dir: str,
                          iceberg_table: str | None) -> None:
    """Restart hygiene: every sink a prior run wrote into must be emptied
    before the new spec stamp lands. A parquet wave overwrites only its own
    buckets, and lineage is appended, so extracted/ + _lineage/ are removed (a bucket
    the rerun leaves empty would otherwise keep its old-spec rows); when the
    sink is an Iceberg table, rows from the prior run survive in the table
    even after the local dirs are gone — truncate it (DELETE FROM with no
    predicate is a metadata-only truncation in Iceberg) so the rerun cannot
    mix old-spec and new-spec rows under the fresh stamp."""
    import shutil

    shutil.rmtree(os.path.join(out_dir, "extracted"), ignore_errors=True)
    shutil.rmtree(_lineage_dir(out_dir), ignore_errors=True)
    if iceberg_table is not None:
        spark.sql(f"DELETE FROM {iceberg_table}")


def run_extraction(
    spark: SparkSession,
    docs_df: DataFrame,
    out_dir: str,
    config: PipelineConfig | None = None,
    *,
    resume: bool = True,
    wave_size: int | None = None,
    max_waves: int | None = None,
    iceberg_table: str | None = None,
) -> dict:
    """Process all pending buckets; returns run metrics, with
    ``buckets_failed`` counting the buckets whose wave recorded 'failed'.
    ``max_waves`` exists for kill/resume tests (stop after k waves like a
    preempted job). ``iceberg_table`` (e.g. "catalog.db.extracted")
    switches the span sink to Iceberg writeTo appends when the runtime jar
    is present — lineage and resume bookkeeping stay in out_dir
    either way."""
    if iceberg_table is not None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg_table was requested but the Iceberg Spark runtime "
                "jar is not on the classpath"
            )
        _ensure_iceberg_table(spark, iceberg_table, (config or PipelineConfig()).n_buckets)
    from pyspark import StorageLevel

    from mit_spark.config import PIPELINE_SPEC_VERSION
    from mit_spark.plans.pipeline import extract_flat, regroup

    config = config or PipelineConfig()
    n_buckets = config.n_buckets
    wave_size = wave_size or max(n_buckets // 4, 1)

    # spec-version stamp: a resumed run must produce byte-identical spans to
    # the waves already on disk; refuse to mix cleaning-spec versions in one
    # output table (ADVICE: regex-fuse changed outputs for ill-formed markup)
    os.makedirs(out_dir, exist_ok=True)
    meta_path = os.path.join(out_dir, "_meta.json")
    stamped = os.path.exists(meta_path)
    if stamped:
        with open(meta_path) as fh:
            prior = json.load(fh).get("pipeline_spec_version")
    if resume and stamped and prior != PIPELINE_SPEC_VERSION:
        raise RuntimeError(
            f"output dir {out_dir} was written by pipeline spec {prior!r}; "
            f"this build is {PIPELINE_SPEC_VERSION!r} — resuming would mix "
            "cleaning-spec versions in one table (use a fresh out_dir, or "
            "resume=False to restart from scratch in place)"
        )
    if resume and not stamped and os.path.isdir(_lineage_dir(out_dir)):
        # a pre-stamp (unknown-spec) output dir with existing lineage:
        # resuming would silently adopt it under the current spec — the
        # historical corpora the guard most needs to protect
        raise RuntimeError(
            f"output dir {out_dir} has lineage but no _meta.json (written "
            "by an unknown pipeline spec) — refuse to resume; rerun with "
            "resume=False to restart in place, or use a fresh out_dir"
        )
    if not resume:
        # restart: clear every sink (local parquet AND the Iceberg table
        # when one is configured) before re-stamping — otherwise old-spec
        # rows would sit beside new-spec rows under the new stamp (the
        # exact mixing the guard exists to prevent)
        _clear_restart_output(spark, out_dir, iceberg_table)
    with open(meta_path, "w") as fh:
        json.dump({"pipeline_spec_version": PIPELINE_SPEC_VERSION}, fh)

    docs = docs_df.withColumn("_bucket", bucket_of(F.col("doc_id"), n_buckets))
    done = done_buckets(spark, out_dir) if resume else set()
    pending = [b for b in range(n_buckets) if b not in done]

    metrics = {
        "buckets_done_prior": len(done),
        "buckets_processed": 0,
        "buckets_failed": 0,
        "n_docs": 0,
        "n_spans": 0,
        "n_errors": 0,
    }
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]
    if max_waves is not None:
        waves = waves[:max_waves]

    for wave in waves:
        started = datetime.datetime.now()
        wave_docs = docs.filter(F.col("_bucket").isin(wave))
        # one UDF pass per wave: persist the flat spans so the per-bucket
        # counts AND the regrouped output both read it without recomputing
        # detect+OCR; unpersist in finally — a failed (poisoned) wave must
        # not leak its cached partitions into the remaining waves of a long
        # job
        flat = extract_flat(spark, wave_docs.drop("_bucket"), config).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            # one aggregation over the flat spans gives every lineage count:
            # regroup keeps the non-error rows, so a bucket's docs are the
            # distinct doc_ids among them and its spans their count; the
            # kind='error' poison rows are tallied apart (SURVEY.md §2.10)
            ok = F.col("kind") != "error"
            stats = flat.groupBy(bucket_of(F.col("doc_id"), n_buckets).alias("bucket_id")).agg(
                F.countDistinct(F.when(ok, F.col("doc_id"))).alias("n_docs"),
                F.count(F.when(ok, F.lit(1))).alias("n_spans"),
                F.count(F.when(~ok, F.lit(1))).alias("n_errors"),
            )
            by_bucket = {r["bucket_id"]: r.asDict() for r in stats.collect()}
            out = regroup(flat, config)
            out = out.withColumn("bucket_id", bucket_of(F.col("doc_id"), n_buckets))
            _write_wave(spark, out, out_dir, iceberg_table)
            finished = datetime.datetime.now()
            zero = {"n_docs": 0, "n_spans": 0, "n_errors": 0}
            rows = [
                {
                    "bucket_id": b,
                    "status": "done",
                    **by_bucket.get(b, zero),
                    "started_at": started,
                    "finished_at": finished,
                    "error": None,
                }
                for b in wave
            ]
            _append_lineage(spark, out_dir, rows)
            for r in rows:
                for k in zero:
                    metrics[k] += r[k]
            metrics["buckets_processed"] += len(wave)
        except Exception as e:  # poisoned wave -> lineage 'failed', job continues
            metrics["buckets_failed"] += len(wave)
            _append_lineage(
                spark,
                out_dir,
                [
                    {
                        "bucket_id": b,
                        "status": "failed",
                        "started_at": started,
                        "finished_at": datetime.datetime.now(),
                        "error": f"{e}\n{traceback.format_exc()[:2000]}",
                    }
                    for b in wave
                ],
            )
        finally:
            flat.unpersist()
    return metrics


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "extracted")).drop("bucket_id")
