"""The extraction pipeline — detect -> OCR -> order -> emit as ONE Spark
logical plan (SURVEY.md §3.1 "Spark lifecycle equivalent").

Plan shape:

    scan docs(doc_id, spans)                       (columns pruned to 2)
      -> explode(spans)                            (span-level parallelism:
                                                    a 256-media doc becomes
                                                    256 independent rows —
                                                    the skew story, §4.1)
      -> kind='text'  : Catalyst-only boilerplate strip (JVM codegen)
         kind='media' : repartition by span hash -> mapInPandas(detect+OCR)
      -> unionByName
      -> groupBy(doc_id) sort_array(collect_list)  (map-side partial collect,
                                                    one Exchange, final merge)
      -> extracted(doc_id, spans ordered by `order`)

Skew (SURVEY.md §4.1) is handled before the UDF: explode plus the span-hash
repartition spread a heavy document's media spans over many tasks. The
regroup needs nothing extra: Spark plans ``collect_list`` as a map-side
partial aggregate, so each task combines its own spans of a document before
the one shuffle, and the final array lands on one reducer in any design.

Everything relational is built-in; the only Python is the Arrow-batched
media UDF (vectorized-batch UDF execution per "Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022 — see PAPERS.md). No collect(), no
driver-side loops, no custom partitioner — scales by adding executors.

The cost at that UDF boundary is paid per task, not per row: each Python
task spends about 0.25 CPU-s in pyspark's worker set-up before the UDF
runs (measured on a 4-core host). So the media stage runs two tasks per
slot (``media_task_count``), and the UDF streams each task's longer Arrow
batches in bounded memory.
"""

from __future__ import annotations

from dataclasses import asdict
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from mit_spark.config import DetectorOptions, PipelineConfig, PreprocessorOptions
from mit_spark.functions.textclean import clean_text_col
from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.schema import FLAT_OUT


def _media_udf(detector_conf: dict, pre_conf: dict, fault_inject_refs: tuple = ()):
    """Build the Arrow-batched detect+OCR function (plain dicts travel in
    the closure; numpy state is created lazily per worker)."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from mit_spark.operators.batched_detect import extract_media_spans_batched
        from mit_spark.session import apply_worker_env, drop_zip_importers

        apply_worker_env()
        drop_zip_importers()
        opts = DetectorOptions(**detector_conf)
        pre = PreprocessorOptions(**pre_conf)
        fault_refs = frozenset(fault_inject_refs or ())
        for pdf in batches:
            # cross-image forward packing over the whole Arrow batch
            # (operators/batched_detect.py): same rows as the per-span
            # extract_media_span loop — incl. per-span poison isolation
            # (SURVEY.md §2.10: a raising span becomes one kind='error' row,
            # dropped before the regroup, counted into lineage) — with up to
            # max_batch_size fewer forward calls
            rows = extract_media_spans_batched(
                list(zip(pdf["doc_id"], pdf["media_ref"], pdf["offset"])),
                opts,
                pre,
                fault_refs=fault_refs,
            )
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "order"])

    return run


def media_task_count(par: int) -> int:
    """Media-stage task count for ``par`` execution slots: two per slot.

    Every Python task pays a fixed cost before any UDF code runs: pyspark's
    worker calls ``importlib.invalidate_caches()`` once per task, and on
    Python 3.11 that re-reads pyspark.zip's central directory for every
    cached zipimporter. Measured on a 4-core host, a trivial 64-task Python
    stage costs 4-5 s of wall and about 0.25 CPU-s per task. Two tasks per
    slot pay it 8 times per pass at local[4] (64 tasks would cost ~16
    CPU-s), and the second task per slot still absorbs a straggler. On the
    same host one ``extract()`` pass with 64 / 16 / 8 / 4 media tasks took
    7.75 / 3.35 / 2.41 / 2.17 s over 1,200 docs with 156 media spans, and
    18.6 / 14.0 / 13.2 / 13.3 s over 300 docs with 1,528 media spans.
    Worker memory does not grow with the longer Arrow batches this gives,
    because the media UDF streams them (operators/batched_detect.py). The
    media UDF also drops the cached zipimporters
    (session.drop_zip_importers), so later tasks in a reused worker skip
    the re-read.

    ``par`` comes from defaultParallelism at PLAN time, which is correct on
    a static cluster. Under dynamic allocation it reflects the executors
    held when the plan is built — merely suboptimal, never a correctness
    issue; pin spark.default.parallelism to the target size if scheduling
    there."""
    return 2 * par


def extract_flat(spark: SparkSession, docs_df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Exploded output spans (doc_id, kind, text, media_ref, order) before
    the per-document regroup — useful for metrics and for the regroup-free
    sinks."""
    config = config or PipelineConfig()

    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )

    text_out = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        F.lit("text").alias("kind"),
        clean_text_col(F.col("text")).alias("text"),
        F.lit("").alias("media_ref"),
        (F.col("offset").cast("long") * SPAN_STRIDE).cast("int").alias("order"),
    )

    media_in = spans.filter(F.col("kind") == "media").select("doc_id", "media_ref", "offset")
    # spread spans of media-heavy documents across the cluster (explode gave
    # span rows; hash-repartition breaks doc-locality so one heavy doc
    # occupies many tasks, not one)
    media_in = media_in.repartition(
        media_task_count(spark.sparkContext.defaultParallelism),
        F.xxhash64("doc_id", "offset"),
    )

    media_out = media_in.mapInPandas(
        _media_udf(
            asdict(config.detector), asdict(config.preprocessor),
            tuple(config.fault_inject_refs),
        ),
        schema=FLAT_OUT,
    )
    return text_out.unionByName(media_out)


def regroup(flat: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Rebuild ordered span arrays per document (kind='error' poison rows
    are excluded here; checkpoint counts them into lineage).

    One aggregation: ``groupBy(doc_id)`` + ``sort_array(collect_list)``,
    which Spark plans as a partial collect per map task, one Exchange on
    doc_id and a final merge. ``config`` is unused; the parameter stays
    because callers pass it (perfbench's tracer calls ``regroup(flat, cfg)``).
    """
    span_struct = F.struct("order", "kind", "text", "media_ref")
    grouped = (
        flat.filter(F.col("kind") != "error")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(span_struct)).alias("sp"))
    )
    return grouped.select(
        "doc_id",
        F.transform(
            "sp",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans"),
    )


def extract(spark: SparkSession, docs_df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Full pipeline: docs -> extracted(doc_id, spans ordered)."""
    config = config or PipelineConfig()
    return regroup(extract_flat(spark, docs_df, config), config)
