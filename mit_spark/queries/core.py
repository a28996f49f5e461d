"""The registry itself and the Spark-side building blocks that entries of
several families share: `QUERIES`/`register`, the idempotent staging
helpers, the md5-prefix SQL idiom, the documents' word split, the
3-shingle minhash signature and its band-bucket pair expansion."""

from __future__ import annotations

import os
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


# idempotent staging (shared by the streaming entries and the dedup pair
# cache): a deterministic per-(sf_dir, tag) scratch dir behind a _STAGED
# marker. Scoped per-user under a mode-0700 base (multi-user hosts must not
# share or collide on staged state), and keyed by the pipeline spec version
# so a staged dir from an older build can never satisfy a newer marker.
def _staging_dir(sf_dir: str, tag: str, version: str) -> str:
    import getpass
    import hashlib as _hl
    import tempfile

    from mit_spark.config import PIPELINE_SPEC_VERSION

    try:
        user = getpass.getuser()
    except Exception:  # no passwd entry for the uid
        user = str(os.getuid()) if hasattr(os, "getuid") else "u"
    root = os.path.join(tempfile.gettempdir(), f"mit_stage_{user}")
    os.makedirs(root, exist_ok=True)
    os.chmod(root, 0o700)
    key = _hl.md5(
        f"{os.path.abspath(sf_dir)}:{tag}:{version}:{PIPELINE_SPEC_VERSION}".encode()
    ).hexdigest()[:12]
    return os.path.join(root, f"{tag}_{key}")


def _staged(base: str, build) -> None:
    """Run ``build()`` exactly once per staging dir, safe across concurrent
    processes sharing the per-user staging root (e.g. the oracle tests and a
    bench run): an exclusive fcntl lock on a SIBLING lockfile serializes the
    marker-check/build, so a second process either sees the finished marker
    or blocks until the first finishes — it can never read a half-built dir
    or rmtree one mid-build (ADVICE r3). The lockfile sits beside the dir
    (not inside it) because the clean-start rmtree must not delete the very
    inode the lock is held on. No marker means any partial state is from a
    crashed setup, so start clean; the marker is written only after build()
    returns, while the lock is still held."""
    import fcntl
    import shutil

    marker = os.path.join(base, "_STAGED")
    if os.path.exists(marker):  # fast path: a marked dir is complete + immutable
        return
    with open(base + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            if os.path.exists(marker):  # another process built it while we waited
                return
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            build()
            with open(marker, "w") as fh:
                fh.write("ok")
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


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
