"""Text-analysis scalar functions for the documents table — token counting,
stopword ratio, token length, fingerprinting (SURVEY.md §2.7 +
the training-data-pipeline operator set). All Catalyst built-ins (JVM,
codegen) — no Python in the hot path; each has a portable SQL twin used by
the DuckDB oracle strings in mit_spark.queries."""

from __future__ import annotations

from pyspark.sql import Column, functions as F

STOPWORDS = ("the", "a", "data", "key")


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), " ")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def stopword_ratio_col(text: Column) -> Column:
    toks = tokens_col(text)
    sw = F.filter(toks, lambda x: x.isin(*STOPWORDS))
    return F.round(F.size(sw) / F.size(toks), 4)


def avg_token_len_col(text: Column) -> Column:
    no_space = F.length(F.regexp_replace(text, " ", ""))
    return F.round(no_space / token_count_col(text), 4)


def fingerprint_col(text: Column) -> Column:
    """md5 of whitespace-normalized lowercase text (exact-dedup key)."""
    norm = F.lower(F.trim(F.regexp_replace(text, "[ \t\n\r]+", " ")))
    return F.md5(norm)
