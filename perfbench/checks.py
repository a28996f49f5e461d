"""Correctness checks on the engine's outputs. A failed check is printed
loudly, counts as a failure in the result line, and makes the run exit
non-zero; it never leaves a speed standing on its own."""

from __future__ import annotations

import random
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.oracle import extract_doc
from mit_spark.plans.checkpoint import read_extracted, read_lineage

ORACLE_NORMAL_DOCS = 4
# doc_id -> the oracle's (kind, text, media_ref, order) list; a run has one
# corpus and one config, and a traced run checks the same sample twice
_oracle_spans: dict[str, list[tuple]] = {}


class Checks:
    def __init__(self) -> None:
        self.results: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append((name, bool(ok), detail))
        if not ok:
            print(f"perfbench: CHECK FAILED: {name}: {detail}", file=sys.stderr, flush=True)
        return bool(ok)

    @property
    def failed(self) -> int:
        return sum(not ok for _, ok, _ in self.results)


def oracle_sample(corpus, seed: int) -> list[dict]:
    """A seeded sample of docs: the smallest heavy doc (or, without heavy
    docs, the doc with the most media spans) plus a few others."""
    by_id = {d["doc_id"]: d for d in corpus.docs}

    def n_media(d):
        return sum(s["kind"] == "media" for s in d["spans"])

    if corpus.heavy_ids:
        big = min((by_id[i] for i in corpus.heavy_ids), key=n_media)
    else:
        big = max(corpus.docs, key=n_media)
    rest = [d for d in corpus.docs if d["doc_id"] != big["doc_id"]]
    rng = random.Random(f"oracle:{seed}")
    return [big] + rng.sample(rest, min(ORACLE_NORMAL_DOCS, len(rest)))


def warm_sample(corpus, seed: int, n_docs: int) -> list[str]:
    """doc_ids of the warm pass: the oracle sample plus seeded non-heavy
    docs up to ``n_docs`` in all."""
    ids = [d["doc_id"] for d in oracle_sample(corpus, seed)]
    rest = [d["doc_id"] for d in corpus.docs
            if d["doc_id"] not in ids and d["doc_id"] not in corpus.heavy_ids]
    rng = random.Random(f"warm:{seed}")
    return ids + rng.sample(rest, max(0, min(n_docs - len(ids), len(rest))))


def lost_spans(corpus, rows) -> int:
    """Input spans without any output span. Every text span gives one
    output span and every media span at least one, so these are exactly
    the kind='error' rows that regroup dropped."""
    have = {(r["doc_id"], s["order"] // SPAN_STRIDE) for r in rows for s in r["spans"]}
    return sum((d["doc_id"], s["offset"]) not in have for d in corpus.docs for s in d["spans"])


def verify_output(checks: Checks, corpus, rows, error_rows: int, cfg, seed: int) -> None:
    """Checks extracted rows (doc_id, spans) against the input corpus and
    the single-process oracle. ``error_rows`` counts the kind='error' rows
    the regroup dropped."""
    n_in = len(corpus.docs)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }
    checks.check("one output row per input doc, no doc_id twice",
                 len(rows) == len(got) == n_in,
                 f"{len(rows)} output rows, {len(got)} distinct doc_ids, {n_in} input docs")
    checks.check("zero kind='error' rows", error_rows == 0, f"{error_rows} error rows")
    for doc in oracle_sample(corpus, seed):
        if doc["doc_id"] not in _oracle_spans:
            _oracle_spans[doc["doc_id"]] = [(s["kind"], s["text"], s["media_ref"], s["order"])
                                            for s in extract_doc(doc, cfg)["spans"]]
        want = _oracle_spans[doc["doc_id"]]
        have = got.get(doc["doc_id"])
        checks.check(f"oracle equality for {doc['doc_id']} ({len(doc['spans'])} spans)",
                     have == want,
                     "missing from output" if have is None
                     else f"{len(have)} output spans vs {len(want)} oracle spans")


def observed(df):
    """``df`` with an Observation of the cheap per-pass check figures:
    output rows, input spans that gave at least one output span (regroup
    drops kind='error' rows, so a span whose media call failed gives none)
    and output spans."""
    obs = Observation()
    covered = F.size(F.array_distinct(
        F.transform("spans", lambda s: F.floor(s["order"] / SPAN_STRIDE))))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.sum(covered).alias("covered"),
                      F.sum(F.size("spans")).alias("out_spans")), obs


def verify_pass(checks: Checks, k: int, figures: dict, corpus, cfg,
                first_out_spans: int) -> int:
    """Checks one timed unit from its cheap figures: an extract() pass's
    Observation (rows, covered input spans, output spans) or a job's
    run_extraction metrics (docs, output spans, errors, buckets). Every unit
    must give the first unit's output span count. Returns the unit's
    kind='error' rows."""
    n_docs = len(corpus.docs)
    if "covered" in figures:
        errors = corpus.n_spans - int(figures["covered"])
        checks.check(f"timed pass {k}: one output row per input doc",
                     figures["rows"] == n_docs, f"{figures['rows']} rows, {n_docs} docs")
    else:
        errors = int(figures["errors"])
        checks.check(f"timed job {k}: every doc written and every bucket done",
                     figures["rows"] == n_docs and figures["buckets"] == cfg.n_buckets,
                     f"{figures['rows']} docs of {n_docs}, {figures['buckets']} buckets "
                     f"of {cfg.n_buckets}")
    checks.check(f"timed unit {k}: zero kind='error' rows", errors == 0,
                 f"{errors} error rows")
    checks.check(f"timed unit {k}: same output span count as the first unit",
                 figures["out_spans"] == first_out_spans,
                 f"{figures['out_spans']} vs {first_out_spans}")
    return errors


def verify_job(spark, checks: Checks, out_dir: str, job: dict, corpus, cfg,
               seed: int) -> dict:
    """Checks a finished run_extraction output dir with ``verify_output``
    plus its lineage; returns the failure tally (error rows, failed
    buckets, spans and buckets attempted)."""
    rows = read_extracted(spark, out_dir).collect()
    verify_output(checks, corpus, rows, int(job["n_errors"]), cfg, seed)
    n_failed = read_lineage(spark, out_dir).filter("status = 'failed'").count()
    checks.check("zero failed buckets", n_failed == 0, f"{n_failed} failed buckets")
    return {"error_rows": int(job["n_errors"]), "failed_buckets": n_failed,
            "attempted": cfg.n_buckets}


def verify_resume(checks: Checks, resumed: dict) -> None:
    checks.check("resume of a finished job processes no bucket",
                 resumed["buckets_processed"] == 0,
                 f"buckets_processed={resumed['buckets_processed']}")
