"""Source-format breadth: the same registry queries must produce identical
results over parquet, ORC, JSON, and XML exports of the tables —
read_table's autodetect is the only moving part (SURVEY.md §2.1 S1 source
seam). XML exercises the HTML-ish ``text`` column's escape/unescape path
(the markup the boilerplate stage strips must survive the container)."""

import os

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def format_dirs(spark, tmp_path_factory):
    """Materialize documents + embeddings in orc/json next to nothing else,
    so read_table's autodetect picks the alternate format."""
    base = tmp_path_factory.mktemp("fmt")
    from mit_spark.sources.docs_source import read_table

    dirs = {}
    docs = read_table(spark, SF, "documents")
    emb = read_table(spark, SF, "embeddings")
    for fmt in ("orc", "json", "xml"):
        d = str(base / fmt)
        os.makedirs(d, exist_ok=True)
        w = docs.write.format(fmt)
        if fmt == "xml":  # Spark 4 built-in XML; rowTag matches read_table
            w = w.option("rowTag", "row")
        w.save(f"{d}/documents.{fmt}")
        if fmt == "orc":  # array<float> column: json would infer double
            emb.write.format(fmt).save(f"{d}/embeddings.{fmt}")
        dirs[fmt] = d
    return dirs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["orc", "json", "xml"])
@pytest.mark.parametrize(
    "qname", ["exact_dedup", "doc_token_stats", "sequence_pack"]
)
def test_documents_queries_format_agnostic(spark, format_dirs, fmt, qname):
    from mit_spark.queries import QUERIES

    builder, _sql = QUERIES[qname]
    assert _rows(builder(spark, format_dirs[fmt])) == _rows(builder(spark, SF))


def test_embeddings_query_over_orc(spark, format_dirs):
    from mit_spark.queries import QUERIES

    builder, _sql = QUERIES["embedding_lsh_buckets"]
    assert _rows(builder(spark, format_dirs["orc"])) == _rows(builder(spark, SF))


def test_flagship_ids_over_json(spark, format_dirs):
    """load_docs (the flagship's id source) goes through the same seam."""
    from mit_spark.sources.docs_source import load_docs

    a = load_docs(spark, format_dirs["json"], max_doc_no=8).select("doc_id")
    b = load_docs(spark, SF, max_doc_no=8).select("doc_id")
    assert _rows(a) == _rows(b)


def test_csv_needs_and_honors_schema(spark, tmp_path):
    """CSV round-trip with a pinned schema: values and types both survive."""
    from mit_spark.sources.docs_source import read_table

    docs = read_table(spark, SF, "documents").limit(50)
    d = str(tmp_path / "csvdir")
    os.makedirs(d)
    docs.write.option("header", "true").format("csv").save(f"{d}/documents.csv")
    back = read_table(spark, d, "documents", schema=docs.schema)
    assert back.schema == docs.schema
    assert _rows(back.select("doc_id", "n_chars")) == _rows(
        docs.select("doc_id", "n_chars")
    )


def test_limit_takes_the_smallest_doc_ids(spark, tmp_path):
    """``load_doc_ids(limit=n)`` keeps the n smallest ids of a multi-file
    source, not the first rows of whichever file Spark happens to read
    first. The file with the large ids is the biggest one, so split packing
    (largest file first) would put it ahead of the small ids."""
    from mit_spark.sources.docs_source import load_doc_ids

    src = str(tmp_path / "documents.parquet")
    for lo, hi in ((900, 1100), (0, 10), (500, 520)):
        spark.range(lo, hi).withColumnRenamed("id", "doc_id").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    got = [r.doc_id for r in load_doc_ids(spark, str(tmp_path), limit=15).collect()]
    want = [f"doc-{i:08d}" for i in [*range(10), *range(500, 505)]]
    assert sorted(got) == want
