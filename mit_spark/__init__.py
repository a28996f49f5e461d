"""mit_spark — a PySpark-native main-content extraction engine.

Re-creates the query/data-processing capabilities of
frederik-uni/manga-image-translator-rust (reference at /root/reference,
read-only) as an idiomatic Spark pipeline over Iceberg/parquet tables of
interleaved text + media documents:

    docs(doc_id: string,
         spans: array<struct<kind:string, text:string,
                             media_ref:string, offset:int>>)
      -> detect -> OCR -> order -> emit ->
    extracted(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, order:int>>)

Design (see SURVEY.md):
  * the text-span branch is pure Catalyst expressions (boilerplate strip);
  * the media-span branch is one Arrow-batched ``mapInPandas`` UDF running
    the numpy ports of the reference's detect path (preprocess -> patch
    rearrange -> batched forward -> DBNet segmentation post-processing ->
    quad canonicalisation -> OCR -> reading order);
  * the per-document regroup is one
    ``groupBy(doc_id).agg(sort_array(collect_list(...)))``.

Nothing here is a code port of the reference — the reference defines WHAT
is computed (operator semantics, constants, canonical orders); the HOW is
DataFrame-first Spark plus vectorized numpy inside pandas UDFs.
"""

from mit_spark.config import DetectorOptions, PreprocessorOptions, PipelineConfig

__all__ = [
    "DetectorOptions",
    "PreprocessorOptions",
    "PipelineConfig",
    "extract",
]


def extract(spark, docs_df, config=None):
    """Public entry point; see mit_spark.plans.pipeline.extract."""
    from mit_spark.plans.pipeline import extract as _extract

    return _extract(spark, docs_df, config)

__version__ = "0.1.0"
