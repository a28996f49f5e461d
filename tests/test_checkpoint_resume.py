"""Resume-without-recompute tests (FIXTURES.md F6 / SURVEY.md §5.iv):
run k waves, kill, rerun; finished buckets untouched, final output equals
the oracle."""

import os

import pytest

from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.oracle import extract_docs
from mit_spark.plans.checkpoint import (
    done_buckets,
    read_extracted,
    read_lineage,
    run_extraction,
)
from mit_spark.schema import DOCS
from mit_spark.synth import gen_docs

CFG = PipelineConfig(detector=DetectorOptions(detect_size=512), n_buckets=8)


def _tuples(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def test_kill_and_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    docs = gen_docs(16)
    docs_df = spark.createDataFrame(docs, schema=DOCS)

    # phase 1: "killed" after 2 waves of 2 buckets
    m1 = run_extraction(spark, docs_df, out_dir, CFG, wave_size=2, max_waves=2)
    assert m1["buckets_processed"] == 4
    done1 = done_buckets(spark, out_dir)
    assert len(done1) == 4
    finished1 = {
        r["bucket_id"]: r["finished_at"]
        for r in read_lineage(spark, out_dir).filter("status = 'done'").collect()
    }

    # phase 2: resume
    m2 = run_extraction(spark, docs_df, out_dir, CFG, wave_size=2)
    assert m2["buckets_done_prior"] == 4
    assert m2["buckets_processed"] == CFG.n_buckets - 4

    # finished buckets were not recomputed: their lineage rows are unchanged
    lin = read_lineage(spark, out_dir).filter("status = 'done'").collect()
    by_bucket = {}
    for r in lin:
        by_bucket.setdefault(r["bucket_id"], []).append(r["finished_at"])
    for b in done1:
        assert len(by_bucket[b]) == 1, f"bucket {b} has duplicate lineage rows"
        assert by_bucket[b][0] == finished1[b]

    # final output == oracle (span-sequence equality)
    got = _tuples(read_extracted(spark, out_dir).collect())
    want = _tuples(
        [
            {"doc_id": d["doc_id"], "spans": d["spans"]}
            for d in extract_docs(docs, CFG)
        ]
    )
    assert got == want


def test_death_between_write_and_lineage_does_not_duplicate(spark, tmp_path, monkeypatch):
    """A wave that dies after its span write but before its 'done' lineage
    rows is recorded 'failed' and re-run on resume. The re-run must replace
    that wave's buckets, not append them a second time."""
    import mit_spark.plans.checkpoint as cp

    out_dir = str(tmp_path / "out")
    docs = gen_docs(16)
    docs_df = spark.createDataFrame(docs, schema=DOCS)
    real_append = cp._append_lineage
    done_calls = []

    def dies_on_first_done(spark, out_dir, rows):
        if rows[0]["status"] == "done":
            done_calls.append(rows)
            if len(done_calls) == 1:
                raise RuntimeError("injected death after the wave's write")
        real_append(spark, out_dir, rows)

    monkeypatch.setattr(cp, "_append_lineage", dies_on_first_done)
    m1 = cp.run_extraction(spark, docs_df, out_dir, CFG, wave_size=4)
    failed_wave = {r["bucket_id"] for r in done_calls[0]}
    assert sum(r["n_docs"] for r in done_calls[0]) > 0  # the write had docs
    assert m1["buckets_failed"] == len(failed_wave) == 4
    assert m1["buckets_processed"] == CFG.n_buckets - 4
    assert done_buckets(spark, out_dir) == set(range(CFG.n_buckets)) - failed_wave

    m2 = cp.run_extraction(spark, docs_df, out_dir, CFG, wave_size=4)
    assert m2["buckets_processed"] == 4 and m2["buckets_failed"] == 0
    rows = read_extracted(spark, out_dir).collect()
    assert len(rows) == len({r["doc_id"] for r in rows}) == len(docs)
    want = _tuples([{"doc_id": d["doc_id"], "spans": d["spans"]} for d in extract_docs(docs, CFG)])
    assert _tuples(rows) == want


def test_idempotent_full_rerun(spark, tmp_path):
    out_dir = str(tmp_path / "out2")
    docs_df = spark.createDataFrame(gen_docs(6), schema=DOCS)
    run_extraction(spark, docs_df, out_dir, CFG)
    n1 = read_extracted(spark, out_dir).count()
    m = run_extraction(spark, docs_df, out_dir, CFG)  # everything done -> no-op
    assert m["buckets_processed"] == 0
    assert read_extracted(spark, out_dir).count() == n1


def test_resume_refuses_mismatched_spec_version(spark, tmp_path):
    """A resumed run must not mix cleaning-spec versions in one output
    table: run_extraction stamps _meta.json and refuses resume=True when
    the stamp differs from this build's PIPELINE_SPEC_VERSION."""
    import json

    import pytest

    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.plans.checkpoint import run_extraction
    from mit_spark.schema import DOCS
    from mit_spark.synth import gen_docs

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(6), schema=DOCS)
    out = str(tmp_path / "out")
    run_extraction(spark, docs, out, cfg, max_waves=1)
    meta = json.load(open(f"{out}/_meta.json"))
    assert meta["pipeline_spec_version"]

    # simulate output written by an older build
    json.dump({"pipeline_spec_version": "0-old"}, open(f"{out}/_meta.json", "w"))
    with pytest.raises(RuntimeError, match="spec"):
        run_extraction(spark, docs, out, cfg, resume=True)


def test_restart_clears_old_spec_output(spark, tmp_path):
    """resume=False on a dir stamped by an OLDER spec must clear extracted/
    and _lineage/ before re-stamping: a wave overwrites only its own
    buckets, so stale rows would otherwise survive under the new stamp
    (ADVICE r2, medium)."""
    import json

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(6), schema=DOCS)
    out = str(tmp_path / "out")
    run_extraction(spark, docs, out, cfg)
    n_first = read_extracted(spark, out).count()
    assert n_first == 6

    # simulate an old-spec table, then restart in place
    json.dump({"pipeline_spec_version": "0-old"}, open(f"{out}/_meta.json", "w"))
    m = run_extraction(spark, docs, out, cfg, resume=False)
    assert m["buckets_processed"] == 4  # full reprocess, no resume skip
    assert read_extracted(spark, out).count() == 6  # no doubled rows
    meta = json.load(open(f"{out}/_meta.json"))
    from mit_spark.config import PIPELINE_SPEC_VERSION

    assert meta["pipeline_spec_version"] == PIPELINE_SPEC_VERSION


def test_resume_refuses_unstamped_legacy_dir(spark, tmp_path):
    """A pre-stamp output dir (lineage present, no _meta.json) must not be
    silently adopted under the current spec on resume (ADVICE r2, low)."""
    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(6), schema=DOCS)
    out = str(tmp_path / "out")
    run_extraction(spark, docs, out, cfg, max_waves=1)
    os.remove(f"{out}/_meta.json")  # simulate a pre-stamp build's output
    with pytest.raises(RuntimeError, match="no _meta.json"):
        run_extraction(spark, docs, out, cfg, resume=True)
    # restart in place is the documented escape hatch
    m = run_extraction(spark, docs, out, cfg, resume=False)
    assert m["buckets_processed"] == 4
    assert read_extracted(spark, out).count() == 6


def test_iceberg_seam_guard_and_fallback(spark, tmp_path):
    """SURVEY.md §7.8 write seam: without the Iceberg runtime jar the
    iceberg_table request must fail fast (never silently fall back), and
    the default parquet path must be untouched by the seam's presence."""
    from mit_spark.plans.checkpoint import iceberg_available

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(4), schema=DOCS)
    out = str(tmp_path / "out")
    if iceberg_available(spark):
        pytest.skip("Iceberg jar present; covered by the real writeTo test")
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        run_extraction(spark, docs, out, cfg, iceberg_table="cat.db.extracted")
    m = run_extraction(spark, docs, out, cfg)  # parquet fallback unchanged
    assert m["buckets_processed"] == 4
    assert read_extracted(spark, out).count() == 4


def test_restart_truncates_iceberg_sink(tmp_path):
    """ADVICE r3 (medium): resume=False with an iceberg_table must truncate
    the TABLE, not just the local parquet dirs — appended snapshots from the
    prior run survive rmtree and would mix old-spec rows under the new stamp.
    The runtime jar is absent in this sandbox, so the truncation is asserted
    through a recording stub session; the real-jar twin is the tail of
    test_iceberg_write_path."""
    from mit_spark.plans.checkpoint import _clear_restart_output

    out = str(tmp_path / "out")
    os.makedirs(os.path.join(out, "extracted"))
    os.makedirs(os.path.join(out, "_lineage"))

    class _RecordingSession:
        def __init__(self):
            self.sqls = []

        def sql(self, q):
            self.sqls.append(q)

    sess = _RecordingSession()
    _clear_restart_output(sess, out, "cat.db.extracted")
    assert sess.sqls == ["DELETE FROM cat.db.extracted"]
    assert not os.path.exists(os.path.join(out, "extracted"))
    assert not os.path.exists(os.path.join(out, "_lineage"))

    # parquet-only restart must issue no table DML at all
    sess2 = _RecordingSession()
    _clear_restart_output(sess2, out, None)
    assert sess2.sqls == []


def test_restart_routes_iceberg_truncation(spark, tmp_path, monkeypatch):
    """Integration twin of test_restart_clears_old_spec_output for the
    Iceberg sink, runnable without the jar: iceberg_available is forced
    True, the table's DDL/DML statements are intercepted, and max_waves=0
    schedules zero waves so the only jar-touching calls are the intercepted
    ones. Asserts run_extraction's restart branch reaches the DELETE."""
    import mit_spark.plans.checkpoint as cp

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(4), schema=DOCS)
    out = str(tmp_path / "out")
    run_extraction(spark, docs, out, cfg)  # real parquet run stamps _meta.json
    assert read_extracted(spark, out).count() == 4

    issued = []
    monkeypatch.setattr(cp, "iceberg_available", lambda s: True)
    real_sql = spark.sql

    def _sql(q, *a, **kw):
        if "cat.db.extracted" in q:
            issued.append(q)
            return None
        return real_sql(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", _sql)
    cp.run_extraction(
        spark, docs, out, cfg,
        iceberg_table="cat.db.extracted", resume=False, max_waves=0,
    )
    assert any(q.startswith("DELETE FROM cat.db.extracted") for q in issued)
    assert not os.path.exists(os.path.join(out, "extracted"))


def test_iceberg_write_path(spark, tmp_path):
    """With the runtime jar present: waves append as Iceberg snapshots into
    a bucket(doc_id)-partitioned table, resume skips done buckets, and a
    restart truncates the table before re-writing (no doubled rows)."""
    from mit_spark.plans.checkpoint import iceberg_available

    if not iceberg_available(spark):
        # decided against the live fixture session, not a throwaway
        # default-config one (ADVICE r3: the string skipif marker used to
        # getOrCreate() a session at collection time)
        pytest.skip("Iceberg Spark runtime jar not on the classpath")
    spark.conf.set("spark.sql.catalog.mitcat", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.mitcat.type", "hadoop")
    spark.conf.set("spark.sql.catalog.mitcat.warehouse", str(tmp_path / "wh"))
    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), n_buckets=4)
    docs = spark.createDataFrame(gen_docs(6), schema=DOCS)
    out = str(tmp_path / "out")
    tbl = "mitcat.db.extracted"
    m1 = run_extraction(spark, docs, out, cfg, iceberg_table=tbl, max_waves=1)
    m2 = run_extraction(spark, docs, out, cfg, iceberg_table=tbl)
    assert m1["buckets_processed"] + m2["buckets_processed"] == 4
    assert spark.table(tbl).count() == 6
    # restart hygiene (ADVICE r3, medium): resume=False truncates the table
    m3 = run_extraction(spark, docs, out, cfg, iceberg_table=tbl, resume=False)
    assert m3["buckets_processed"] == 4
    assert spark.table(tbl).count() == 6  # not 12 — prior snapshots cleared
