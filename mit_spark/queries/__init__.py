"""Query registry — every SURVEY.md §2 operator family expressed as a
(spark_builder, duckdb_oracle_sql) pair over the testdata tables.

Registry contract (`__spark_entry__`):
  * builder(spark, sf_dir) -> DataFrame, all computed columns aliased;
  * oracle_sql: equivalent ANSI SQL for DuckDB over pre-registered views
    (region nation customer supplier part orders lineitem events documents
    embeddings), producing identical column NAMES and values. Every entry
    carries one, the detect->OCR flagship (`flagship_extract`) included.

Cross-engine determinism rules used throughout:
  * money sums rounded to 2dp, ratios/avgs to 4-6dp (double accumulation
    order differs between engines at ~1e-9 relative);
  * timestamps emitted as formatted strings (engines hash temporals
    differently);
  * md5() is the only hash primitive (bit-identical hex string in Spark,
    DuckDB, and python's hashlib);
  * every ORDER BY feeding a LIMIT carries a unique tiebreak key.

Layout: `core` holds `QUERIES`, `register`, the staging helpers and the
Spark-side building blocks several families share (word split, minhash
signature, band-bucket pair expansion); each other module is one family
and registers its entries on import. The iteration order of `QUERIES` is
the import order below and carries no meaning.
"""

from mit_spark.queries import (
    core,
    curation,
    dedup,
    embedding,
    events,
    media,
    relational,
    text,
)

# Every module-level name of every family stays reachable as
# `mit_spark.queries.<name>`. To change a tuning constant, set it on the
# family module that reads it (e.g. `mit_spark.queries.events._BIN_W`).
for _module in (core, relational, events, text, dedup, embedding, media, curation):
    globals().update(
        {k: v for k, v in vars(_module).items() if not k.startswith("__")}
    )
del _module
