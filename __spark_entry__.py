"""Driver contract for the spark-graft builder (PySpark target).

entry()       — flagship extraction pipeline on sf0.001 (smoke check).
queries()     — every implemented operator family from SURVEY.md §2 as a
                (spark, sf_dir) -> DataFrame callable.
oracle_sql()  — DuckDB-equivalent SQL for each query (identical column
                names/values). ALL entries carry value oracles, including
                the detect->OCR pipeline: the flagship's flat span emit has
                a full row-level oracle (kind, text, media_ref, order per
                span) built from a pure-SQL re-derivation of the md5-seeded
                generator PLUS the detector's closed-form quad geometry and
                reading-order ranks. The numpy golden-equality suite in
                tests/ is the second, independent gate.

The order of queries() carries no meaning;
tests/test_queries_oracle.py checks every entry against its oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from mit_spark.session import apply_worker_env  # noqa: E402

apply_worker_env()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: detect -> OCR -> order -> emit over the interleaved docs
    table derived from /root/testdata/sf0.001."""
    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.plans.pipeline import extract
    from mit_spark.sources.docs_source import load_docs

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=512))
    docs = load_docs(spark, "/root/testdata/sf0.001")
    return extract(spark, docs, cfg)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mit_spark.queries import QUERIES

    return {name: builder for name, (builder, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from mit_spark.queries import QUERIES

    return {name: sql for name, (_builder, sql) in QUERIES.items()}
