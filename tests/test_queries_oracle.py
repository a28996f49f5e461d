"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle SQL on the same parquet tables, then
compare row count, column names, and order-insensitive values."""

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("MIT_SPARK_TEST_SF", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if v is None:
        return ""
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm(vals[i]) for i in order))
    return sorted(out)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _query_names():
    from mit_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, ddb, name):
    from mit_spark.queries import QUERIES

    builder, sql = QUERIES[name]
    sdf = builder(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    drel = ddb.execute(sql)
    dcols = [d[0] for d in drel.description]
    drows = drel.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    a, b = _canon(srows, scols), _canon(drows, dcols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, f"{name}: value mismatch at {mism}: " + "; ".join(
        f"spark={a[i]} duck={b[i]}" for i in mism
    )


def test_gate_detects_wrong_values(spark, ddb):
    """Negative control for the gate itself: a deliberately corrupted
    result must FAIL the canonical compare — guards against a _canon /
    column-ordering bug that would wave everything through."""
    from mit_spark.queries import QUERIES

    builder, sql = QUERIES["q1_pricing_summary"]
    srows = [tuple(r) for r in builder(spark, SF_DIR).collect()]
    cols = list(builder(spark, SF_DIR).columns)
    drel = ddb.execute(sql)
    dcols = [d[0] for d in drel.description]
    drows = drel.fetchall()
    assert _canon(srows, cols) == _canon(drows, dcols)  # sanity: green as-is
    # corrupt one numeric cell by 1 ulp-ish step -> must mismatch
    bad = [list(r) for r in srows]
    for j, v in enumerate(bad[0]):
        if isinstance(v, float):
            bad[0][j] = v + 1.0
            break
        if isinstance(v, int):
            bad[0][j] = v + 1
            break
    assert _canon([tuple(r) for r in bad], cols) != _canon(drows, dcols)
    # dropping a row must mismatch too
    assert _canon(srows[1:], cols) != _canon(drows, dcols)


def test_gate_detects_flagship_span_faults(ddb):
    """Negative control for the flagship's row-level compare, DuckDB only:
    the faults a per-document span count, text multiset or reading-order
    digest would catch must each fail `_canon` equality against
    flagship_extract's oracle rows."""
    from mit_spark.queries import QUERIES

    drel = ddb.execute(QUERIES["flagship_extract"][1])
    cols = [d[0] for d in drel.description]
    rows = drel.fetchall()
    doc, kind, text, order = (cols.index(c) for c in ("doc_id", "kind", "text", "order"))
    want = _canon(rows, cols)

    def corrupt(*edits):  # (row index, column name, new value)
        bad = [list(r) for r in rows]
        for i, col, v in edits:
            bad[i][cols.index(col)] = v
        return _canon(bad, cols)

    media = [i for i, r in enumerate(rows) if r[kind] == "media"]
    # two media spans of one document with different texts
    i, j = next(
        (i, j)
        for i in media
        for j in media
        if i < j and rows[i][doc] == rows[j][doc] and rows[i][text] != rows[j][text]
    )
    swap = corrupt((i, "order", rows[j][order]), (j, "order", rows[i][order]))
    assert swap != want, "swapped reading order of two media spans"
    t = rows[i][text]
    assert corrupt((i, "text", t[:-1] + ("1" if t.endswith("0") else "0"))) != want, (
        "changed one OCR character"
    )
    docs = sorted({r[doc] for r in rows})
    neighbour = docs[docs.index(rows[i][doc]) + 1]
    assert corrupt((i, "doc_id", neighbour)) != want, "moved a span to the next doc"


def test_dedup_clusters_idempotent_and_cache_clean(spark):
    """Repeated invocations must return identical labels (staged pair list)
    and leave NO DataFrame cache entries behind (the fixpoint loop caches
    one frame per round; each must be released — ADVICE r2)."""
    from mit_spark.queries import dedup_clusters

    r1 = dedup_clusters(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    r2 = dedup_clusters(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert r1 == r2


def test_sequence_pack_scales_shards(spark, ddb):
    """VERDICT r3 #4: the shard count must be f(total tokens), not a
    constant. At the default shard_tokens the floor (8) applies; at a small
    shard_tokens the same corpus fans out to >8 shards — and the oracle,
    parameterized identically, must stay green at BOTH counts."""
    from mit_spark.queries import _sequence_pack_sql, sequence_pack

    small = 1024  # tokens/shard — forces n_shards > 8 even at sf0.001 (~28k tokens)
    sdf = sequence_pack(spark, SF_DIR, shard_tokens=small)
    srows = [tuple(r) for r in sdf.collect()]
    n_shards = len({r[0] for r in srows})
    assert n_shards > 8, f"expected fan-out beyond the floor, got {n_shards}"
    drel = ddb.execute(_sequence_pack_sql(small))
    dcols = [d[0] for d in drel.description]
    drows = drel.fetchall()
    assert len(srows) == len(drows)
    assert _canon(srows, list(sdf.columns)) == _canon(drows, dcols)
    # per-shard independence invariant: a shard's packing depends only on
    # its own members, so every (shard, seq) group at the default count must
    # obey the same 2048 budget rule regardless of other shards
    full = sequence_pack(spark, SF_DIR).collect()
    assert {r["shard"] for r in full} == set(range(8))  # floor at this sf


def test_incremental_dedup_staging_idempotent(spark, tmp_path, monkeypatch):
    """The staged batch table must be built exactly once per sf_dir and
    repeated invocations must return identical statuses even when the
    staging root starts empty (fresh host) or already populated."""
    import mit_spark.queries as q

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    r1 = q.incremental_dedup(spark, SF_DIR).collect()
    r2 = q.incremental_dedup(spark, SF_DIR).collect()
    assert r1 == r2
    statuses = {row["status"] for row in r1}
    assert statuses == {"exact_dup", "near_dup", "kept"}
