"""The registry itself and the Spark-side building blocks that entries of
several families share: `QUERIES`/`register`, the idempotent staging
helpers (one temporary root per driver process), the md5-prefix SQL
idiom, the documents' word split, the 3-shingle minhash signature and its
band-bucket pair expansion."""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.functions.textstats import tokens_col
from mit_spark.sources.docs_source import read_table


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {}


def register(name: str, sql: str):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


# idempotent staging (shared by the streaming entries and the staged
# tables below): a deterministic per-(sf_dir, tag) scratch dir behind a
# _STAGED marker, under one mkdtemp root per driver process. Every staged
# dir is therefore built by the code this process runs, and the root goes
# away when the process exits.
@functools.cache
def _stage_root() -> str:
    """This process's staging root, made on first use and removed at exit
    by the process that made it (a forked child inherits the handler but
    not the right to delete its parent's root)."""
    root = tempfile.mkdtemp(prefix="mit_stage_")
    owner = os.getpid()

    def _remove() -> None:
        if os.getpid() == owner:
            shutil.rmtree(root, ignore_errors=True)

    atexit.register(_remove)
    return root


def _staging_dir(sf_dir: str, tag: str) -> str:
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(_stage_root(), f"{tag}_{key}")


def _staged(base: str, build) -> None:
    """Run ``build()`` once per staging dir. The marker is written only
    after build() returns, so a dir without it holds what a build that
    raised left behind: wipe it and build again."""
    marker = os.path.join(base, "_STAGED")
    if os.path.exists(marker):  # a marked dir is complete and immutable
        return
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    build()
    with open(marker, "w") as fh:
        fh.write("ok")


def _staged_table(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()``'s frame written to parquet once per sf_dir in this
    process (behind ``_staged``), then read back; every call returns the
    read."""
    base = _staging_dir(sf_dir, tag)
    path = os.path.join(base, "table")
    _staged(base, lambda: build().write.parquet(path))
    return spark.read.parquet(path)


def _h_sql(s: str) -> str:
    """First 4 bytes of md5(s) as a big-endian int — the SQL twin of
    synth._h/_ints (both engines agree bit-for-bit on md5 hex)."""
    return f"('0x'||substr(md5({s}),1,8))::BIGINT"


def _doc_words(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """(*keys, words): the documents table, each text split into words."""
    return read_table(spark, sf_dir, "documents").select(
        *keys, tokens_col("text").alias("words")
    )


_MH_LANES = 6  # minhash lanes: 5-hex-char slices of ONE md5 per shingle
_MH_BANDS = ((0, 1), (2, 3), (4, 5))  # LSH bands as groups of lanes


def _band_key(lanes) -> Column:
    """An LSH band key: the concatenation of its lanes' minima."""
    return F.concat(*[F.col(f"mh{j}") for j in lanes])


def _lsh_bands() -> Column:
    """The 3 two-lane bands of a signature row, exploded into `band`."""
    return F.explode(F.array(*[_band_key(g) for g in _MH_BANDS])).alias("band")


def _shingles(corpus: DataFrame, *keys: str) -> DataFrame:
    """(doc_id, *keys, words) -> (doc_id, *keys, shingle): every 3-word
    shingle, built ROWS-WISE (posexplode + window lead) rather than with
    array higher-order functions: HOF lambdas are interpreted per element
    while window/agg expressions are codegen'd — 6x faster at sf0.1 for
    identical output."""
    tok = corpus.select("doc_id", *keys, F.posexplode("words").alias("pos", "w"))
    win = Window.partitionBy("doc_id", *keys).orderBy("pos")
    w1, w2 = F.lead("w", 1).over(win), F.lead("w", 2).over(win)
    sh = tok.select(
        "doc_id", *keys, F.concat_ws(" ", "w", w1, w2).alias("shingle"), w2.alias("w2")
    )
    return sh.filter(F.col("w2").isNotNull()).drop("w2")


def _shingle_digests(corpus: DataFrame, *keys: str) -> DataFrame:
    """(doc_id, *keys, words) -> (doc_id, *keys, d): one md5 per 3-word
    shingle."""
    return _shingles(corpus, *keys).select("doc_id", *keys, F.md5("shingle").alias("d"))


def _minhash_signature(dg: DataFrame, *keys: str) -> DataFrame:
    """(doc_id, *keys, d) shingle digests -> (doc_id, *keys, ds, mh0..mh5):
    the doc's distinct digest set and each lane's minimum, one
    hash-aggregate. Lane j is the j-th 5-hex-char slice of each digest —
    width and count are load-bearing against the SQL oracles'
    `min(d[5j+1:5j+5])`. A consumer that never reads `ds` does not pay for
    it: Catalyst prunes unreferenced aggregates."""
    return dg.groupBy("doc_id", *keys).agg(
        F.collect_set("d").alias("ds"),
        *[F.min(F.substring("d", 5 * j + 1, 5)).alias(f"mh{j}") for j in range(_MH_LANES)],
    )


def _bucket_pairs(bands: DataFrame, *keys: str) -> DataFrame:
    """Distinct (*keys, doc_a, doc_b) pairs, doc_a < doc_b, of docs sharing
    a `band` bucket — WITHOUT a self-join (a join would recompute the whole
    shingle->minhash lineage for both sides): group docs per (*keys, band),
    expand sorted pairwise combinations via posexplode + slice + explode
    (no HOF lambdas — those are interpreted per element, never codegen'd)."""
    buckets = (
        bands.groupBy(*keys, "band")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return (
        buckets.select(*keys, "docs", F.posexplode("docs").alias("i", "doc_a"))
        .select(
            *keys,
            "doc_a",
            F.explode(
                F.slice("docs", F.col("i") + F.lit(2), F.size("docs"))
            ).alias("doc_b"),
        )
        .distinct()
    )


def _shingle_bands(docs: DataFrame, extra: tuple = ()) -> DataFrame:
    """(doc_id, *extra, words) -> (doc_id, *extra, ds, band): the signature's
    bands with the distinct shingle set riding ALONG the band explode, so
    an exact-Jaccard verify downstream is an inline filter on the band join
    (incremental_dedup, corpus_curation_report)."""
    sigs = _minhash_signature(_shingle_digests(docs, *extra), *extra)
    return sigs.select("doc_id", *extra, "ds", _lsh_bands())
