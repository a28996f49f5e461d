"""Embeddings and search — brute-force and LSH similarity, IVF ANN with
measured recall, quantization, k-means clustering and its consumers, and
keyword, phrase and hybrid retrieval."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.functions.textstats import tokens_col
from mit_spark.queries.core import _doc_words, _shingle_digests, _staged_table, register
from mit_spark.sources.docs_source import read_table


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e): the embeddings table with its vectors as array<double>."""
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def _dot_fold(x: Column, y: Column) -> Column:
    """Index-order dot-product fold — JVM-side zip_with + aggregate, no UDF."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )


def _sign_lsh_bucket() -> Column:
    """Sign-LSH bucket of column `e`: the sign bits of its projections on 4
    md5-derived +/-1 hyperplanes (plane `hid`, dim d: md5('hid:d')[0] >= '8')."""

    def proj(hid: int) -> Column:
        weighted = F.transform(
            "e",
            lambda x, i: x
            * F.when(
                F.substring(F.md5(F.concat(F.lit(f"{hid}:"), (i + 1).cast("string"))), 1, 1)
                >= "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )
        return F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v)

    return F.concat(*[F.when(proj(h) > 0, "1").otherwise("0") for h in range(4)])


@register(
    "embedding_cosine_topk",
    """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT q_id, n_id, sim FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round(list_cosine_similarity(q.e, c.e), 6) AS sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rn
      FROM q JOIN c ON q.vec_id <> c.vec_id
    ) WHERE rn <= 5
    ORDER BY q_id, sim DESC, n_id
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (similarity-search baseline): broadcast the
    query side, JVM-side zip_with/aggregate dot products — no UDF."""
    emb = _vectors(spark, sf_dir)
    q = F.broadcast(emb.filter(F.col("vec_id") < 8).alias("q"))
    c = emb.alias("c")

    qe, ce = F.col("q.e"), F.col("c.e")
    cos = _dot_fold(qe, ce) / (F.sqrt(_dot_fold(qe, qe)) * F.sqrt(_dot_fold(ce, ce)))
    joined = q.join(c, F.col("q.vec_id") != F.col("c.vec_id")).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("c.vec_id").alias("n_id"),
        cos.alias("cos_raw"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("n_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", F.round("cos_raw", 6).alias("sim"))
        .orderBy("q_id", F.desc("sim"), "n_id")
    )


@register(
    "embedding_label_norms",
    """
    SELECT label, count(*) AS n_vecs,
           round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def embedding_label_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    return (
        emb.select("label", F.sqrt(_dot_fold(F.col("e"), F.col("e"))).alias("norm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.round(F.avg("norm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


def _lsh_sql() -> str:
    planes = []
    for hid in range(4):
        planes.append(
            f"list_sum(list_transform(range(1, 65), d -> e[d] * "
            f"(CASE WHEN substr(md5('{hid}:' || d), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)))"
        )
    bucket = " || ".join(f"(CASE WHEN {p} > 0 THEN '1' ELSE '0' END)" for p in planes)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec FROM (
      SELECT vec_id, {bucket} AS bucket FROM v
    ) GROUP BY bucket ORDER BY bucket
    """


@register("embedding_lsh_buckets", _lsh_sql())
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (the ANN scale path): 4 md5-derived hyperplanes,
    bucket = sign bits of the projections — pure Catalyst expressions."""
    emb = _vectors(spark, sf_dir)

    return (
        emb.select("vec_id", _sign_lsh_bucket().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec"))
        .orderBy("bucket")
    )


def _emb_fold_sql(a: str, b: str, op: str) -> str:
    """Index-order left fold over two DOUBLE[64] lists — bit-identical to
    Spark's zip_with + aggregate(0.0, +)."""
    if op == "dot":
        elem = f"{a}[i] * {b}[i]"
    else:  # squared L2
        elem = f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    return (
        f"list_reduce(list_transform(range(1, 65), i -> CAST({elem} AS DOUBLE)),"
        f" (acc, x) -> acc + x)"
    )


def _near_dup_sql() -> str:
    planes = []
    for hid in range(4):
        planes.append(
            f"list_reduce(list_transform(range(1, 65), d -> CAST(e[d] * "
            f"(CASE WHEN substr(md5('{hid}:' || d), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"
            f" AS DOUBLE)), (acc, x) -> acc + x)"
        )
    bucket = " || ".join(f"(CASE WHEN {p} > 0 THEN '1' ELSE '0' END)" for p in planes)
    dot = _emb_fold_sql("a.e", "b.e", "dot")
    self_dot = _emb_fold_sql("v.e", "v.e", "dot").replace("v.e", "e")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         bucketed AS (SELECT vec_id, e, sqrt({self_dot}) AS nrm, {bucket} AS bucket FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({dot} / (a.nrm * b.nrm), 6) AS sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {dot} / (a.nrm * b.nrm) >= 0.30
    ORDER BY vec_a, vec_b
    """


@register("embedding_near_dup", _near_dup_sql())
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with LSH candidate pruning:
    pairs are generated only within a sign-LSH bucket (4 md5-derived
    hyperplanes -> 16 buckets), then exact cosine >= 0.30 filters the
    candidates. At 100 TB the bucket equi-join replaces the quadratic
    cross-join: candidate count scales with bucket occupancy, not n^2."""
    emb = _vectors(spark, sf_dir)

    # norm computed ONCE per vector before the pair join (the join expands
    # to ~n^2/buckets rows; folding norms per pair would triple the
    # higher-order-function work, the dominant cost of this query)
    b = emb.select(
        "vec_id",
        "e",
        F.sqrt(_dot_fold(F.col("e"), F.col("e"))).alias("nrm"),
        _sign_lsh_bucket().alias("bucket"),
    )

    # parallelism: the table arrives as ONE parquet split, so without a
    # repartition the entire candidate-pair fold runs in a single task
    # (measured 5-8 s at sf0.1; 2.3 s spread over 32). The build side is
    # broadcast, so the probe side need not be co-partitioned on the join
    # key — spread it by vec_id for even, skew-free task sizes. At 100 TB
    # the build side no longer broadcasts: co-partition BOTH sides on
    # `bucket` and let the sort-merge join run bucket-local (candidate
    # volume per bucket, never n^2, is the scaling quantity either way).
    a = b.repartition(spark.sparkContext.defaultParallelism, "vec_id").alias("a")
    c = F.broadcast(b).alias("b")
    cos = _dot_fold(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(c, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.30)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_raw", 6).alias("sim"),
        )
        .orderBy("vec_a", "vec_b")
    )


def _ivf_cte_sql() -> str:
    """The shared IVF index-build CTE block (v / pos / cent / assigned) —
    the SQL mirror of `_ivf_assign`, used by every IVF-family oracle so
    the index definition exists exactly once per engine."""
    d_qc = _emb_fold_sql("v.e", "c.arr", "l2")
    return f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                      vec_id % 8 AS cell0 FROM embeddings),
         pos AS (SELECT cell0, unnest(e) AS val, generate_subscripts(e, 1) AS p FROM v),
         cent AS (
           SELECT cell0 AS cell, list(round(avg_val, 3) ORDER BY p) AS arr FROM (
             SELECT cell0, p, avg(val) AS avg_val FROM pos GROUP BY cell0, p
           ) GROUP BY cell0
         ),
         assigned AS (
           SELECT vec_id, e, cell FROM (
             SELECT v.vec_id, v.e, c.cell, {d_qc} AS d2,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {d_qc}, c.cell) AS rn
             FROM v CROSS JOIN cent c
           ) WHERE rn = 1
         )"""


def _ivf_sql() -> str:
    d_qn = _emb_fold_sql("q.e", "n.e", "l2")
    return f"""
    WITH {_ivf_cte_sql()}
    SELECT q_id, n_id, d2 FROM (
      SELECT q.vec_id AS q_id, n.vec_id AS n_id, round({d_qn}, 6) AS d2,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {d_qn}, n.vec_id) AS rn
      FROM assigned q JOIN assigned n
        ON q.cell = n.cell AND q.vec_id <> n.vec_id
      WHERE q.vec_id < 5
    ) WHERE rn <= 3
    ORDER BY q_id, d2, n_id
    """


def _l2_fold(x, y):
    """Index-order squared-L2 fold — bit-identical to the DuckDB
    list_reduce in _emb_fold_sql (same summation order)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ivf_vc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF index build, distance stage: coarse quantizer from one
    Lloyd iteration over the deterministic seed assignment vec_id % 8
    (centroids rounded to 3dp so both engines' avg() agree bit-for-bit),
    then every (vector, centroid) pair with its squared distance. Returns
    (vec_id, e, cell, d2) — rank it per vec_id for assignment (rn = 1) or
    multiprobe (rn <= nprobe)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (F.col("vec_id") % 8).alias("cell0"),
    )
    pos = emb.select("cell0", F.posexplode("e").alias("p", "val"))
    cent = (
        pos.groupBy("cell0", "p")
        .agg(F.round(F.avg("val"), 3).alias("avg_val"))
        .groupBy(F.col("cell0").alias("cell"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "avg_val"))), lambda s: s["avg_val"]
            ).alias("arr")
        )
    )
    return emb.crossJoin(F.broadcast(cent)).withColumn(
        "d2", _l2_fold(F.col("e"), F.col("arr"))
    )


def _ivf_rn() -> Column:
    """Rank of a (vector, centroid) pair within its vector, nearest first
    (d2 then cell tie-break) — built lazily because Column construction
    needs an active SparkContext."""
    return F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "cell"))


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF index build: every vector assigned to its nearest
    centroid. Returns (vec_id, e, cell) — the inverted lists every
    IVF-family entry probes."""
    vc = _ivf_vc(spark, sf_dir)
    return (
        vc.withColumn("rn", _ivf_rn()).filter(F.col("rn") == 1).select("vec_id", "e", "cell")
    )


@register("ann_ivf_topk", _ivf_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: build a coarse quantizer (one Lloyd iteration from the
    deterministic seed assignment vec_id % 8), assign every vector to its
    nearest centroid (inverted lists), then answer top-3 L2 queries probing
    ONLY the query's cell. Scale shape: the centroid table is tiny and
    broadcast; index build is one positional agg; search cost is bucket-local
    (n/k candidates per query instead of n). Centroids are rounded to 3dp so
    both engines' avg() agree bit-for-bit after rounding; distances use
    index-order folds."""
    assigned = _ivf_assign(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < 5).alias("q")
    n = assigned.alias("n")
    pairs = q.join(
        n, (F.col("q.cell") == F.col("n.cell")) & (F.col("q.vec_id") != F.col("n.vec_id"))
    ).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("n.vec_id").alias("n_id"),
        _l2_fold(F.col("q.e"), F.col("n.e")).alias("d2_raw"),
    )
    rn2 = F.row_number().over(Window.partitionBy("q_id").orderBy("d2_raw", "n_id"))
    return (
        pairs.withColumn("rn", rn2)
        .filter(F.col("rn") <= 3)
        .select("q_id", "n_id", F.round("d2_raw", 6).alias("d2"))
        .orderBy("q_id", "d2", "n_id")
    )


_RECALL_K = 3
_RECALL_N_QUERIES = 32  # query panel: vec_id < 32


def _exact_panel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k ground truth for the recall-eval panel: broadcast the
    bounded query panel into one nested-loop pass over all vectors (cost
    n x |panel|, linear in the corpus). Returns (q_id, n_id)."""
    emb = _vectors(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < _RECALL_N_QUERIES).alias("q")
    nv = emb.alias("n")
    pairs = (
        F.broadcast(qv)
        .join(nv, F.col("q.vec_id") != F.col("n.vec_id"))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("n.vec_id").alias("n_id"),
            _l2_fold(F.col("q.e"), F.col("n.e")).alias("d2_raw"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("q_id").orderBy("d2_raw", "n_id"))
    return pairs.withColumn("rn", rn).filter(F.col("rn") <= _RECALL_K).select("q_id", "n_id")


def _staged_exact_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact ground-truth top-k for the recall panel as a staged parquet
    artifact — built at most once per sf_dir and build (the brute-force
    pass folds an interpreted L2 over |panel| x n pairs, the dominant cost
    of every recall eval) and read by all three consumers
    (`ann_recall_eval`, `ann_multiprobe_recall`, `embedding_quant_recall`).
    Same staging discipline as the dedup pair list and the kmeans labels:
    at 100 TB the ground-truth panel is an expensive shared artifact you
    materialize once, not a subquery each eval recomputes. The oracles are
    unchanged — they re-derive the exact side from the raw table in SQL."""
    return _staged_table(
        spark, sf_dir, "exact_panel", lambda: _exact_panel_topk(spark, sf_dir)
    )


def _recall_agg(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Overlap of an approximate top-k set with the exact one: single-row
    (n_queries, n_hits) — integer counts, bit-exact cross-engine."""
    joined = exact.join(approx.withColumn("hit", F.lit(1)), ["q_id", "n_id"], "left")
    return joined.agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
    )


def _exact_cte_sql() -> str:
    """The exact-top-k CTE body shared by the recall-eval oracles (assumes a
    CTE `v(vec_id, e)` is in scope)."""
    d_qn = _emb_fold_sql("q.e", "n.e", "l2")
    return f"""
         exact AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY {d_qn}, n.vec_id) AS rn
             FROM v q JOIN v n ON q.vec_id <> n.vec_id
             WHERE q.vec_id < {_RECALL_N_QUERIES}
           ) WHERE rn <= {_RECALL_K}
         )"""


def _recall_sql() -> str:
    d_qn = _emb_fold_sql("q.e", "n.e", "l2")
    return f"""
    WITH {_ivf_cte_sql()},
         ivf AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY {d_qn}, n.vec_id) AS rn
             FROM assigned q JOIN assigned n
               ON q.cell = n.cell AND q.vec_id <> n.vec_id
             WHERE q.vec_id < {_RECALL_N_QUERIES}
           ) WHERE rn <= {_RECALL_K}
         ),
         {_exact_cte_sql()}
    SELECT CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(count(DISTINCT e.q_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / ({_RECALL_K} * count(DISTINCT e.q_id)) AS recall
    FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
    """


@register("ann_recall_eval", _recall_sql())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF scale path against exact brute force — the
    quality dial an ANN deployment tunes (cells probed vs recall) before
    trusting bucket-local search at corpus scale. A 32-query panel gets
    top-3 neighbors twice: EXACT via brute force (broadcast the panel, one
    nested-loop pass over all vectors — cost n x |panel|, LINEAR in the
    corpus, which is what makes ground-truth eval affordable at 100 TB on a
    sample even when full brute-force search is not) and IVF probing only
    the query's cell (shared index build `_ivf_assign`, same inverted lists
    as `ann_ivf_topk`). One LEFT join counts the overlap; output is a
    single row (k, n_queries, n_hits, recall) — integer counts plus ONE
    int/int double division, bit-exact cross-engine. Both rankings break
    distance ties by n_id in both engines, and distances are index-order
    folds, so the two top-k sets are deterministic."""
    assigned = _ivf_assign(spark, sf_dir)

    q = assigned.filter(F.col("vec_id") < _RECALL_N_QUERIES).alias("q")
    n = assigned.alias("n")
    ivf_pairs = q.join(
        n, (F.col("q.cell") == F.col("n.cell")) & (F.col("q.vec_id") != F.col("n.vec_id"))
    ).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("n.vec_id").alias("n_id"),
        _l2_fold(F.col("q.e"), F.col("n.e")).alias("d2_raw"),
    )
    rn_ivf = F.row_number().over(Window.partitionBy("q_id").orderBy("d2_raw", "n_id"))
    ivf = (
        ivf_pairs.withColumn("rn", rn_ivf)
        .filter(F.col("rn") <= _RECALL_K)
        .select("q_id", "n_id")
    )

    agg = _recall_agg(_staged_exact_panel(spark, sf_dir), ivf)
    return agg.select(
        F.lit(_RECALL_K).cast("long").alias("k"),
        "n_queries",
        "n_hits",
        (
            F.col("n_hits").cast("double") / (F.lit(_RECALL_K) * F.col("n_queries"))
        ).alias("recall"),
    )


_MULTIPROBE = 2


def _multiprobe_sql() -> str:
    d_qc = _emb_fold_sql("v.e", "c.arr", "l2")
    d_pn = _emb_fold_sql("p.e", "n.e", "l2")
    return f"""
    WITH {_ivf_cte_sql()},
         probes AS (
           SELECT q_id, e, cell FROM (
             SELECT v.vec_id AS q_id, v.e, c.cell,
                    row_number() OVER (PARTITION BY v.vec_id
                                       ORDER BY {d_qc}, c.cell) AS rn
             FROM v CROSS JOIN cent c
             WHERE v.vec_id < {_RECALL_N_QUERIES}
           ) WHERE rn <= {_MULTIPROBE}
         ),
         ivf AS (
           SELECT q_id, n_id FROM (
             SELECT p.q_id, n.vec_id AS n_id,
                    row_number() OVER (PARTITION BY p.q_id
                                       ORDER BY {d_pn}, n.vec_id) AS rn
             FROM probes p JOIN assigned n
               ON p.cell = n.cell AND p.q_id <> n.vec_id
           ) WHERE rn <= {_RECALL_K}
         ),
         {_exact_cte_sql()}
    SELECT CAST({_MULTIPROBE} AS BIGINT) AS nprobe,
           CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(count(DISTINCT e.q_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / ({_RECALL_K} * count(DISTINCT e.q_id)) AS recall
    FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
    """


@register("ann_multiprobe_recall", _multiprobe_sql())
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe dial of IVF search, measured: recall@3 when each query
    probes its TWO nearest cells instead of one (`ann_recall_eval` is the
    nprobe=1 point on the same panel, so the pair of entries shows the
    recall/cost curve actually moving — the tuning loop an ANN deployment
    runs before trusting bucket-local search at corpus scale). Candidate
    cost doubles (2/8 of the corpus per query instead of 1/8); recall rises
    because the true neighbor often sits just across a Voronoi boundary.
    Scale shape: same inverted lists as `ann_ivf_topk` (`_ivf_assign`), the
    probe table is |panel| x nprobe rows joined to the lists on the cell
    key, and no neighbor appears twice (each vector lives in exactly one
    cell). Output is one row of integer counts + one int/int division —
    bit-exact cross-engine; ties broken by n_id in both rankings."""
    vc = _ivf_vc(spark, sf_dir)
    assigned = (
        vc.withColumn("rn", _ivf_rn()).filter(F.col("rn") == 1).select("vec_id", "e", "cell")
    )
    probes = (
        vc.filter(F.col("vec_id") < _RECALL_N_QUERIES)
        .withColumn("rn", _ivf_rn())
        .filter(F.col("rn") <= _MULTIPROBE)
        .select(F.col("vec_id").alias("q_id"), "e", "cell")
        .alias("p")
    )
    n = assigned.alias("n")
    ivf_pairs = probes.join(
        n, (F.col("p.cell") == F.col("n.cell")) & (F.col("p.q_id") != F.col("n.vec_id"))
    ).select(
        F.col("p.q_id").alias("q_id"),
        F.col("n.vec_id").alias("n_id"),
        _l2_fold(F.col("p.e"), F.col("n.e")).alias("d2_raw"),
    )
    rn_ivf = F.row_number().over(Window.partitionBy("q_id").orderBy("d2_raw", "n_id"))
    ivf = (
        ivf_pairs.withColumn("rn", rn_ivf)
        .filter(F.col("rn") <= _RECALL_K)
        .select("q_id", "n_id")
    )

    agg = _recall_agg(_staged_exact_panel(spark, sf_dir), ivf)
    return agg.select(
        F.lit(_MULTIPROBE).cast("long").alias("nprobe"),
        F.lit(_RECALL_K).cast("long").alias("k"),
        "n_queries",
        "n_hits",
        (
            F.col("n_hits").cast("double") / (F.lit(_RECALL_K) * F.col("n_queries"))
        ).alias("recall"),
    )


_QUANT_BITS = 8
_QUANT_LEVELS = 255  # codes in [0, 255]


def _quant_sql() -> str:
    d_qn = (
        "list_reduce(list_transform(range(1, 65),"
        " i -> (q.c[i] - n.c[i]) * (q.c[i] - n.c[i])), (acc, x) -> acc + x)"
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         pos AS (SELECT unnest(e) AS val, generate_subscripts(e, 1) AS p FROM v),
         sl AS (
           SELECT list(dmin ORDER BY p) AS dmins, list(dmax ORDER BY p) AS dmaxs
           FROM (SELECT p, min(val) AS dmin, max(val) AS dmax FROM pos GROUP BY p)
         ),
         codes AS (
           SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN s.dmaxs[i] = s.dmins[i] THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((v.e[i] - s.dmins[i]) / (s.dmaxs[i] - s.dmins[i])
                                  * {_QUANT_LEVELS}.0 + 0.5) AS BIGINT) END) AS c
           FROM v CROSS JOIN sl s
         ),
         quant AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY {d_qn}, n.vec_id) AS rn
             FROM codes q JOIN codes n ON q.vec_id <> n.vec_id
             WHERE q.vec_id < {_RECALL_N_QUERIES}
           ) WHERE rn <= {_RECALL_K}
         ),
         {_exact_cte_sql()}
    SELECT CAST({_QUANT_BITS} AS BIGINT) AS bits,
           CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(count(DISTINCT e.q_id) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN qt.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CAST(sum(CASE WHEN qt.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / ({_RECALL_K} * count(DISTINCT e.q_id)) AS recall
    FROM exact e LEFT JOIN quant qt ON e.q_id = qt.q_id AND e.n_id = qt.n_id
    """


@register("embedding_quant_recall", _quant_sql())
def embedding_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression dial for embedding storage: per-dimension int8
    scalar quantization (min/max over the corpus -> 255 levels), then
    recall@3 of quantized-distance brute force against full-precision
    ground truth on the 32-query panel. At 100 TB this is the 8x storage /
    memory-bandwidth saving an embedding index takes BEFORE sharding, and
    this entry measures exactly what that costs in neighbor fidelity.
    Determinism: per-dim min/max are order-independent aggregates, the
    quantizer `floor((v-dmin)/(dmax-dmin)*255 + 0.5)` is one fixed IEEE
    expression evaluated identically in both engines (the Spark side
    compiles the 64 (dmin, span) pairs into the plan as literals — the
    same shuffle-free codegen-projection pattern as `embedding_kmeans`'s
    centroids), and quantized distances are pure BIGINT folds, so the
    ranking is bit-exact with ties broken by n_id. Output is one row of
    integer counts + one int/int division."""
    emb = _vectors(spark, sf_dir)
    stats = (
        emb.select(F.posexplode("e").alias("p", "val"))
        .groupBy("p")
        .agg(F.min("val").alias("dmin"), F.max("val").alias("dmax"))
        .orderBy("p")
        .collect()
    )  # 64 rows — the literal-quantizer collect, same discipline as kmeans centroids
    dmin = [r["dmin"] for r in stats]
    dmax = [r["dmax"] for r in stats]

    def code(i: int) -> Column:
        if dmax[i] == dmin[i]:
            return F.lit(0).cast("long")
        return F.floor(
            (F.col("e")[i] - F.lit(dmin[i]))
            / F.lit(dmax[i] - dmin[i])
            * F.lit(float(_QUANT_LEVELS))
            + F.lit(0.5)
        ).cast("long")

    # materialize the codes table ONCE before the self-join (8 bytes x 64
    # per row): both join sides derive from it, and without the checkpoint
    # each side re-runs the 64-expression quantizer projection over the
    # parquet scan — the same double-compute simhash_hamming_pairs paid.
    # Measured 3.0 -> ~2.0 s warm at sf0.1. (An unrolled 64-term distance
    # was ALSO tried and lost to the HOF fold here, 2.2 vs 1.9 s — with the
    # codes materialized the fold is not the bottleneck, and the unrolled
    # element_at chain JIT-compiles a far larger codegen method.)
    codes = emb.select(
        "vec_id", F.array(*[code(i) for i in range(64)]).alias("c")
    ).localCheckpoint(eager=True)

    def d2_int(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    qv = codes.filter(F.col("vec_id") < _RECALL_N_QUERIES).alias("q")
    nv = codes.alias("n")
    pairs = (
        F.broadcast(qv)
        .join(nv, F.col("q.vec_id") != F.col("n.vec_id"))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("n.vec_id").alias("n_id"),
            d2_int(F.col("q.c"), F.col("n.c")).alias("d2q"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("q_id").orderBy("d2q", "n_id"))
    quant = pairs.withColumn("rn", rn).filter(F.col("rn") <= _RECALL_K).select("q_id", "n_id")

    agg = _recall_agg(_staged_exact_panel(spark, sf_dir), quant)
    return agg.select(
        F.lit(_QUANT_BITS).cast("long").alias("bits"),
        F.lit(_RECALL_K).cast("long").alias("k"),
        "n_queries",
        "n_hits",
        (
            F.col("n_hits").cast("double") / (F.lit(_RECALL_K) * F.col("n_queries"))
        ).alias("recall"),
    )


_KW_QUERIES = [
    (0, ("spark", "merge")),
    (1, ("window", "join", "sort")),
    (2, ("customer", "table")),
    (3, ("dup", "vector")),  # one rare + one common term: selective postings
]
_KW_TOPK = 5


def _kw_postings(spark: SparkSession, sf_dir: str):
    """The query-term table and the pruned inverted postings table
    (doc_id, term, tf) shared by the retrieval entries: the IN filter over
    the union of query terms is applied array-side BEFORE the explode, and
    the postings build is one combinable groupBy."""
    terms = [(qid, t) for qid, ts in _KW_QUERIES for t in ts]
    q = spark.createDataFrame(terms, "query_id long, term string")
    allowed = sorted({t for _, t in terms})
    d = _doc_words(spark, sf_dir, "doc_id")
    tok = d.select(
        "doc_id", F.explode(F.filter("words", lambda w: w.isin(*allowed))).alias("term")
    )
    postings = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return q, postings


def _kw_postings_cte_sql() -> str:
    """The q / tok / postings CTE block shared by the retrieval oracles."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _KW_QUERIES for t in terms
    )
    return f"""q(query_id, term) AS (VALUES {vals}),
         tok AS (
           SELECT doc_id, unnest(split(trim(text), ' ')) AS term FROM documents
         ),
         postings AS (
           SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN (SELECT DISTINCT term FROM q)
           GROUP BY doc_id, term
         )"""


def _kw_sql() -> str:
    return f"""
    WITH {_kw_postings_cte_sql()},
         qsize AS (SELECT query_id, count(*) AS k FROM q GROUP BY query_id),
         hits AS (
           SELECT q.query_id, p.doc_id,
                  count(*) AS n_terms, sum(p.tf) AS score
           FROM q JOIN postings p ON q.term = p.term
           GROUP BY q.query_id, p.doc_id
         ),
         ranked AS (
           SELECT h.query_id, h.doc_id, h.score,
                  row_number() OVER (PARTITION BY h.query_id
                                     ORDER BY h.score DESC, h.doc_id) AS rn
           FROM hits h JOIN qsize s ON h.query_id = s.query_id
           WHERE h.n_terms = s.k
         )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(score AS BIGINT) AS score, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_KW_TOPK}
    ORDER BY query_id, rn
    """


@register("keyword_search_topk", _kw_sql())
def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword retrieval over an inverted index — the classic
    posting-list shape none of the similarity entries cover: docs must
    contain ALL of a query's terms, ranked by summed term frequency
    (integer score, doc_id tie-break). Scale shape: the postings table
    (doc_id, term, tf) is the materialized inverted index — built with one
    combinable groupBy, term-keyed so each query touches only its terms'
    posting lists, never the corpus; the tiny query table broadcasts onto
    the postings, conjunction is a HAVING count(matched terms) = |query|
    on the (query, doc) group, and top-k is a per-query window over hit
    docs only. The term filter prunes the postings build to the union of
    query terms (a 9-term IN list the scan can evaluate post-split,
    array-side). Query 3 pairs a rare term ('dup', ~3% of docs) with a
    common one — posting-list intersection does the selectivity work, the
    standard retrieval asymmetry. All-integer output, bit-exact."""
    q, postings = _kw_postings(spark, sf_dir)
    qsize = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    hits = (
        F.broadcast(q)
        .join(postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("tf").alias("score"))
    )
    conj = hits.join(F.broadcast(qsize), "query_id").filter(
        F.col("n_terms") == F.col("k")
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    )
    return (
        conj.withColumn("rn", rn)
        .filter(F.col("rn") <= _KW_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.col("score").cast("long").alias("score"),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("query_id", "rn")
    )


_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_LIST = 20  # per-modality candidate list depth
_RRF_TOPK = 5


def _rrf_sql() -> str:
    d_qn = _emb_fold_sql("qv.e", "n.e", "l2")
    return f"""
    WITH {_kw_postings_cte_sql()},
         kw AS (
           SELECT query_id, doc_id, r FROM (
             SELECT q.query_id, p.doc_id,
                    row_number() OVER (PARTITION BY q.query_id
                                       ORDER BY sum(p.tf) DESC, p.doc_id) AS r
             FROM q JOIN postings p ON q.term = p.term
             GROUP BY q.query_id, p.doc_id
           ) WHERE r <= {_RRF_LIST}
         ),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         sem AS (
           SELECT query_id, doc_id, r FROM (
             SELECT s.query_id, n.vec_id AS doc_id,
                    row_number() OVER (PARTITION BY s.query_id
                                       ORDER BY {d_qn}, n.vec_id) AS r
             FROM (SELECT DISTINCT query_id FROM q) s
             JOIN v qv ON qv.vec_id = s.query_id
             JOIN v n ON n.vec_id <> s.query_id
           ) WHERE r <= {_RRF_LIST}
         ),
         fused AS (
           SELECT query_id, doc_id, sum(1.0 / ({_RRF_C} + r)) AS rrf FROM (
             SELECT query_id, doc_id, r FROM kw
             UNION ALL
             SELECT query_id, doc_id, r FROM sem
           ) GROUP BY query_id, doc_id
         ),
         ranked AS (
           SELECT query_id, doc_id, rrf,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS rn
           FROM fused
         )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(rrf, 6) AS rrf_score, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_RRF_TOPK}
    ORDER BY query_id, rn
    """


@register("hybrid_rrf_fusion", _rrf_sql())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    each query fuses a LEXICAL candidate list (disjunctive keyword rank
    over the shared inverted postings — docs matching any query term,
    ranked by summed tf) with a SEMANTIC one (L2 rank of every vector
    against the query's seed embedding vec_id = query_id, the 1:1
    doc<->vector correspondence in this corpus), scoring each doc
    sum(1/(60 + rank)) over the lists it appears in and keeping the top 5.
    RRF is the standard fusion when score scales are incomparable (integer
    tf vs float distance) — only RANKS cross the modality boundary.

    Determinism: each rank list breaks ties by doc_id; an RRF score is a
    sum of at most TWO doubles of the form 1/(60+r) computed identically
    in both engines (IEEE addition of two values is order-insensitive),
    and the final ordering breaks score ties by doc_id. Scale shape: the
    postings side is the keyword_search_topk plan; the semantic side is a
    |queries|-row broadcast against the vector table (linear, the ANN
    entries show the bucketed path); the fusion itself touches only the
    2 x 20 x |queries| candidate rows."""
    q, postings = _kw_postings(spark, sf_dir)
    kw_scored = (
        F.broadcast(q)
        .join(postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").alias("score"))
    )
    rn_kw = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    )
    kw = (
        kw_scored.withColumn("r", rn_kw)
        .filter(F.col("r") <= _RRF_LIST)
        .select("query_id", "doc_id", "r")
    )

    emb = _vectors(spark, sf_dir)
    seeds = q.select("query_id").distinct()
    qv = (
        F.broadcast(seeds)
        .join(emb, seeds.query_id == emb.vec_id)
        .select("query_id", F.col("e").alias("qe"))
    )
    sem_pairs = (
        F.broadcast(qv)
        .join(emb.alias("n"), F.col("query_id") != F.col("n.vec_id"))
        .select(
            "query_id",
            F.col("n.vec_id").alias("doc_id"),
            _l2_fold(F.col("qe"), F.col("n.e")).alias("d2"),
        )
    )
    rn_sem = F.row_number().over(Window.partitionBy("query_id").orderBy("d2", "doc_id"))
    sem = (
        sem_pairs.withColumn("r", rn_sem)
        .filter(F.col("r") <= _RRF_LIST)
        .select("query_id", "doc_id", "r")
    )

    fused = (
        kw.unionByName(sem)
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.lit(1.0) / (F.lit(_RRF_C) + F.col("r"))).alias("rrf"))
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    )
    return (
        fused.withColumn("rn", rn)
        .filter(F.col("rn") <= _RRF_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("query_id", "rn")
    )


_PHRASE_QUERIES = [
    (0, ("table", "table")),  # duplicate-term phrase: exercises slot-distinctness
    (1, ("value", "table", "part")),  # trigram
    (2, ("fast", "spark")),
    (3, ("window", "join")),
]
_PHRASE_TOPK = 5


def _phrase_sql() -> str:
    vals = ", ".join(
        f"({qid}, {slot}, '{t}')"
        for qid, phrase in _PHRASE_QUERIES
        for slot, t in enumerate(phrase)
    )
    return f"""
    WITH phr(query_id, slot, term) AS (VALUES {vals}),
         tokpos AS (
           SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) - 1 AS pos
           FROM (SELECT doc_id, split(trim(text), ' ') AS w FROM documents)
         ),
         pos AS (
           SELECT * FROM tokpos WHERE term IN (SELECT DISTINCT term FROM phr)
         ),
         qsize AS (SELECT query_id, count(*) AS k FROM phr GROUP BY query_id),
         occ AS (
           SELECT c.query_id, c.doc_id, c.anchor
           FROM (SELECT p.query_id, s.doc_id, s.pos - p.slot AS anchor, p.slot
                 FROM pos s JOIN phr p ON s.term = p.term) c
           JOIN qsize q ON c.query_id = q.query_id
           GROUP BY c.query_id, c.doc_id, c.anchor, q.k
           HAVING count(*) = q.k
         ),
         hits AS (
           SELECT query_id, doc_id, count(*) AS occurrences
           FROM occ GROUP BY query_id, doc_id
         ),
         ranked AS (
           SELECT query_id, doc_id, occurrences,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY occurrences DESC, doc_id) AS rn
           FROM hits
         )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(occurrences AS BIGINT) AS occurrences, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_PHRASE_TOPK}
    ORDER BY query_id, rn
    """


@register("phrase_search_topk", _phrase_sql())
def phrase_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — exact adjacent-term phrase retrieval over
    a positional inverted index, the retrieval shape keyword_search_topk's
    bag-of-words postings cannot answer ("fast spark" as CONSECUTIVE
    tokens, not co-occurrence). One formulation covers any phrase length
    with a SINGLE join: each posting (doc, pos, term) that matches phrase
    slot s votes for anchor = pos - s, and an anchor with all k DISTINCT
    slots present is an occurrence (a duplicate-term phrase like
    "table table" works because slots, not terms, are counted — and the
    count is a PLAIN count(*), not count(DISTINCT slot): slot s at anchor
    a can only come from the single posting at position a+s, so
    (query, doc, anchor, slot) rows are unique by construction and the
    distinct's extra 4-key exchange is dead weight). Scale shape:
    positions come from one posexplode pruned to
    the union of phrase terms before any shuffle; the phrase table and
    per-query sizes broadcast; the only shuffled rows are matched postings
    keyed by (query, doc, anchor) — corpus cost is f(matching postings),
    never f(corpus), and no per-doc array scan or HOF runs anywhere
    (HOF lambdas are interpreted, measured ~7 s/2M evals in this corpus).
    All-integer output (counts + ranks, doc_id tie-break), bit-exact."""
    rows = [
        (qid, slot, t)
        for qid, phrase in _PHRASE_QUERIES
        for slot, t in enumerate(phrase)
    ]
    phr = spark.createDataFrame(rows, "query_id long, slot int, term string")
    allowed = sorted({t for _, _, t in rows})
    pos = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(tokens_col("text")).alias("pos", "term"),
        )
        .filter(F.col("term").isin(allowed))
    )
    qsize = phr.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    cand = pos.join(F.broadcast(phr), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
    )
    occ = (
        cand.groupBy("query_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("nslots"))
        .join(F.broadcast(qsize), "query_id")
        .filter(F.col("nslots") == F.col("k"))
    )
    hits = occ.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.desc("occurrences"), "doc_id")
    )
    return (
        hits.withColumn("rn", rn)
        .filter(F.col("rn") <= _PHRASE_TOPK)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.col("occurrences").cast("long").alias("occurrences"),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("query_id", "rn")
    )


def _semantic_verify_sql() -> str:
    near = _near_dup_sql()
    return f"""
    WITH pairs AS (
      SELECT * FROM ({near}) p
    ), corpus AS (
      SELECT doc_id, split(trim(text), ' ') AS words FROM documents
    ), tok AS (
      SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
      FROM corpus
    ), sh AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle,
             lead(w, 2) OVER win AS w2
      FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), sets AS (
      SELECT doc_id, list_distinct(list(md5(shingle))) AS ds
      FROM sh WHERE w2 IS NOT NULL GROUP BY doc_id
    )
    SELECT p.vec_a, p.vec_b, p.sim,
           round(len(list_filter(x.ds, s -> list_contains(y.ds, s)))
                 / (len(x.ds) + len(y.ds)
                    - len(list_filter(x.ds, s -> list_contains(y.ds, s)))), 4)
             AS lex_jaccard
    FROM pairs p JOIN sets x ON p.vec_a = x.doc_id
                 JOIN sets y ON p.vec_b = y.doc_id
    ORDER BY vec_a, vec_b
    """


@register("semantic_dedup_verified", _semantic_verify_sql())
def semantic_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup: embedding-LSH candidate pairs (recall stage,
    embedding_near_dup's bucketed cosine) annotated with LEXICAL 3-gram
    Jaccard over the aligned documents (vec_id == doc_id in this corpus).
    This is the semantic-dedup shape used on training corpora: embeddings
    propose, text verifies. At scale only candidate doc_ids' shingle sets
    are built (semi-join prune before the tokenize), so the verify cost
    follows |candidates|, not the corpus."""
    pairs = embedding_near_dup(spark, sf_dir)
    ids = (
        pairs.select(F.col("vec_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("vec_b").alias("doc_id")))
        .distinct()
    )
    d = (
        read_table(spark, sf_dir, "documents")
        .join(ids, "doc_id", "leftsemi")
        .select("doc_id", tokens_col("text").alias("words"))
    )
    sets = _shingle_digests(d).groupBy("doc_id").agg(F.collect_set("d").alias("ds"))
    x, y = sets.alias("x"), sets.alias("y")
    inter = F.size(F.array_intersect(F.col("x.ds"), F.col("y.ds")))
    union = F.size(F.col("x.ds")) + F.size(F.col("y.ds")) - inter
    return (
        pairs.join(x, pairs.vec_a == F.col("x.doc_id"))
        .join(y, pairs.vec_b == F.col("y.doc_id"))
        .select(
            "vec_a", "vec_b", "sim", F.round(inter / union, 4).alias("lex_jaccard")
        )
        .orderBy("vec_a", "vec_b")
    )


_KMEANS_K = 8
_KMEANS_ROUNDS = 3  # assignment rounds; centroids update between them


def _kmeans_ctes() -> tuple[str, str]:
    """Unrolled Lloyd iterations in pure SQL: c0 = the first K vectors,
    a_r = nearest-centroid assignment under c_r (tie -> smaller cid),
    c_{r+1} = per-cluster element-wise mean. Mirrors the Spark operator
    exactly; final round also emits the squared distance (6dp). Returns
    (WITH clause, name of the final-assignment CTE) so downstream oracles
    (semantic_mixture_weights) can compose on the cluster labels."""

    def dist(c: str) -> str:
        return (
            "list_sum(list_transform(range(1, 65), "
            f"i -> (v.e[i] - {c}.c[i]) * (v.e[i] - {c}.c[i])))"
        )

    def assign(an: str, cn: str, final: bool) -> str:
        cols = "vec_id, cluster" + (", round(d, 6) AS sq_dist" if final else "")
        return f"""{an} AS (
      SELECT {cols} FROM (
        SELECT vec_id, cid AS cluster, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM (SELECT v.vec_id, {cn}.cid, {dist(cn)} AS d FROM v, {cn})
      ) WHERE rn = 1
    )"""

    def update(cn: str, an: str, prev: str) -> str:
        # LEFT JOIN back to the previous round's centroids: a cluster that
        # received no members keeps its old centroid (COALESCE), exactly the
        # Spark operator's semantics — an INNER shape would silently DROP the
        # cid and surface any future empty cluster as an opaque hash mismatch
        # instead of a matching result (ADVICE r3)
        return f"""{cn} AS (
      SELECT p.cid, COALESCE(u.c, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT cluster AS cid, list(m ORDER BY pos) AS c FROM (
          SELECT a.cluster, t.pos, avg(t.val) AS m
          FROM {an} a JOIN (SELECT vec_id, generate_subscripts(e, 1) AS pos,
                                   unnest(e) AS val FROM v) t
            ON a.vec_id = t.vec_id
          GROUP BY a.cluster, t.pos
        ) GROUP BY cluster
      ) u ON u.cid = p.cid
    )"""

    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {_KMEANS_K})",
    ]
    last = ""
    for r in range(_KMEANS_ROUNDS):
        final = r == _KMEANS_ROUNDS - 1
        last = f"a{r}"
        parts.append(assign(last, f"c{r}", final))
        if not final:
            parts.append(update(f"c{r + 1}", last, f"c{r}"))
    return "\n    WITH " + ",\n    ".join(parts), last


def _kmeans_sql() -> str:
    with_clause, last = _kmeans_ctes()
    return with_clause + f"\n    SELECT vec_id, cluster, sq_dist FROM {last} ORDER BY vec_id"


@register("embedding_kmeans", _kmeans_sql())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for data mixing: distributed Lloyd's k-means over
    the embedding column (K=8, 3 assignment rounds, centroids seeded from
    the first K vectors — deterministic, no RNG).

    Scale shape (the canonical iterative-ML pattern on Spark):
      * assignment is SHUFFLE-FREE — the k x dim centroids are compiled into
        the plan as literal arrays, so nearest-centroid is a codegen
        projection (zip_with/aggregate squared distance + array_min over
        struct<dist,cid>, tie -> smaller cid); no join, no broadcast table;
      * each centroid update is ONE map-side-combinable shuffle
        (posexplode to (cluster, pos, val), partial avg per partition ->
        k x dim x partitions rows cross the wire, never the corpus);
      * the driver holds exactly k x dim doubles per round (the canonical
        collect of an iterative algorithm — same discipline as
        dedup_clusters' scalar-per-round); at 10^12 rows you'd persist the
        (vec_id, e) projection across rounds, a pure add-on.
    Cross-engine value safety was measured, not assumed: the minimum
    relative assignment margin across sf0.001/0.01/0.1 is 7e-6 — nine
    orders above the ~1e-15 float64 summation-order noise between engines —
    and empty-cluster semantics now AGREE by construction: both engines keep
    the previous centroid for a memberless cluster (Spark via the
    ``else cent[j]`` fallback below, the oracle via LEFT JOIN + COALESCE in
    its update CTE — ADVICE r3), so a data change that empties a cluster
    stays a matching result instead of an opaque hash mismatch."""
    emb = _vectors(spark, sf_dir)
    cent = {
        int(r["vec_id"]): list(r["e"])
        for r in emb.filter(F.col("vec_id") < _KMEANS_K).collect()
    }

    def best_of(cent: dict) -> Column:
        structs = []
        for j in sorted(cent):
            carr = F.array(*[F.lit(float(x)) for x in cent[j]])
            d = _l2_fold(F.col("e"), carr)
            structs.append(F.struct(d.alias("d"), F.lit(j).alias("cid")))
        return F.array_min(F.array(*structs))

    for _ in range(_KMEANS_ROUNDS - 1):
        assigned = emb.select(best_of(cent)["cid"].alias("cluster"), "e")
        rows = (
            assigned.select("cluster", F.posexplode("e").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cluster: dict = {}
        for r in rows:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(r["m"])
        cent = {
            j: [vals[p] for p in sorted(vals)] if (vals := by_cluster.get(j)) else cent[j]
            for j in sorted(cent)
        }

    best = best_of(cent)
    return emb.select(
        "vec_id",
        best["cid"].alias("cluster"),
        F.round(best["d"], 6).alias("sq_dist"),
    ).orderBy("vec_id")


def _kmeans_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (vec_id, cluster, sq_dist) kmeans labels — the 'cluster
    assignment is a materialized upstream table' shape every composing
    consumer (mixture weights, outlier prune, balanced sampling) would read
    at production scale instead of re-running Lloyd's per query. Built once
    per sf_dir and build behind the _STAGED marker (same discipline as the
    dedup pair cache); bit-identical to a live embedding_kmeans run by
    construction."""
    return _staged_table(
        spark, sf_dir, "kmeans_labels", lambda: embedding_kmeans(spark, sf_dir).coalesce(4)
    )


def _semantic_outlier_sql() -> str:
    with_clause, last = _kmeans_ctes()
    return (
        with_clause
        + f""",
    q AS (
      SELECT cluster, round(quantile_cont(sq_dist, 0.9), 6) AS p90
      FROM {last} GROUP BY cluster
    )
    SELECT a.vec_id, a.cluster, a.sq_dist, q.p90,
           CAST(a.sq_dist > q.p90 AS INT) AS is_outlier
    FROM {last} a JOIN q USING (cluster) ORDER BY a.vec_id"""
    )


@register("semantic_outlier_prune", _semantic_outlier_sql())
def semantic_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier pruning for training corpora: flag vectors whose
    squared distance to their kmeans centroid exceeds the cluster's p90 —
    the prototypicality filter used to drop off-distribution documents
    before training (the distance tail is where mislabeled / junk content
    concentrates).

    Scale shape: reuses embedding_kmeans' shuffle-free assignment, then
    ONE map-side-combinable exact-percentile aggregate down to K rows and
    a BROADCAST join of those K thresholds back onto the corpus — no
    second corpus shuffle, no window over the data. At 10^12 rows the
    exact percentile would swap to approx_percentile (same plan shape);
    here it stays exact so the DuckDB oracle (quantile_cont over the same
    6dp-rounded distances) is value-exact."""
    km = _kmeans_labels(spark, sf_dir)
    q = km.groupBy("cluster").agg(
        F.round(F.percentile("sq_dist", F.lit(0.9)), 6).alias("p90")
    )
    return (
        km.join(F.broadcast(q), "cluster")
        .select(
            "vec_id",
            "cluster",
            "sq_dist",
            "p90",
            (F.col("sq_dist") > F.col("p90")).cast("int").alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


def _cluster_purity_sql() -> str:
    with_clause, last = _kmeans_ctes()
    return (
        with_clause
        + f""",
    j AS (
      SELECT a.cluster, e.label, count(*) AS n
      FROM {last} a JOIN embeddings e ON a.vec_id = e.vec_id
      GROUP BY a.cluster, e.label
    ), tot AS (
      SELECT cluster, CAST(sum(n) AS BIGINT) AS n_members FROM j GROUP BY cluster
    ), maj AS (
      SELECT cluster, label AS majority_label, CAST(n AS BIGINT) AS n_majority
      FROM (
        SELECT cluster, label, n,
               row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
        FROM j
      ) WHERE rn = 1
    )
    SELECT t.cluster, t.n_members, m.majority_label, m.n_majority,
           round(m.n_majority / CAST(t.n_members AS DOUBLE), 6) AS purity
    FROM tot t JOIN maj m ON t.cluster = m.cluster
    ORDER BY t.cluster
    """
    )


@register("cluster_purity_eval", _cluster_purity_sql())
def cluster_purity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation against ground truth — the harness
    that tells you whether embedding_kmeans' clusters mean anything: per
    cluster, the member count, the majority ground-truth label (the
    embeddings table carries one), the majority's size, and purity
    (n_majority / n_members, the standard external clustering metric).
    Same eval-harness pattern as ann_recall_eval / cardinality_kmv_sketch:
    the ground-truth column exists to measure the unsupervised operator.

    Plan shape at 100 TB: kmeans labels come from the per-sf_dir staged
    label table (built once); the label join is one id-keyed equi-join
    (bucketable on vec_id), the confusion matrix one combinable groupBy
    down to K x |labels| rows, and everything after runs on that
    driver-sized table. The purity double is a single int/int division of
    exact counts — bit-identical across engines, 6dp-rounded."""
    km = _kmeans_labels(spark, sf_dir).select("vec_id", "cluster")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    j = km.join(emb, "vec_id").groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = j.groupBy("cluster").agg(F.sum("n").cast("long").alias("n_members"))
    rn = F.row_number().over(Window.partitionBy("cluster").orderBy(F.desc("n"), "label"))
    maj = (
        j.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("majority_label"),
            F.col("n").cast("long").alias("n_majority"),
        )
    )
    return (
        tot.join(maj, "cluster")
        .select(
            "cluster",
            "n_members",
            "majority_label",
            "n_majority",
            F.round(
                F.col("n_majority") / F.col("n_members").cast("double"), 6
            ).alias("purity"),
        )
        .orderBy("cluster")
    )


def _hard_negative_sql() -> str:
    with_clause, last = _kmeans_ctes()
    d_qn = _emb_fold_sql("q.e", "n.e", "l2")
    return (
        with_clause
        + f""",
    lab AS (
      SELECT v.vec_id, v.e, a.cluster FROM v JOIN {last} a ON v.vec_id = a.vec_id
    ), ranked AS (
      SELECT q.vec_id AS q_id, q.cluster AS q_cluster,
             n.vec_id AS n_id, n.cluster AS n_cluster,
             {d_qn} AS d,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {d_qn}, n.vec_id) AS rn
      FROM lab q JOIN lab n ON q.cluster <> n.cluster
      WHERE q.vec_id < {_RECALL_N_QUERIES}
    )
    SELECT q_id, q_cluster, n_id, n_cluster, round(d, 6) AS d2, rn AS rank
    FROM ranked WHERE rn <= {_RECALL_K} ORDER BY q_id, rank
    """
    )


@register("hard_negative_mining", _hard_negative_sql())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR, Karpukhin et al.
    2020; SimCSE): for each query in the panel, the top-k nearest vectors
    that do NOT share the query's semantic cluster — the "close but not
    positive" examples that make a dense retriever's contrastive loss
    informative (random negatives are trivially separable; in-cluster
    neighbors are likely positives and would poison the label). Cluster
    membership comes from embedding_kmeans via the per-sf_dir staged label
    table; the oracle re-derives the identical labels by composing
    _kmeans_ctes() (the semantic_mixture_weights pattern).

    Scale shape: the bounded query panel (with labels attached) is
    BROADCAST into one nested-loop pass over the labeled corpus — cost
    n x |panel|, linear in the corpus, the same affordable-eval shape as
    _exact_panel_topk; the label attach is one id-keyed equi-join
    (bucketable on vec_id). At mining scale (every training query needs
    negatives, |panel| ~ corpus) you flip to the IVF index: probe the
    query's nearest FOREIGN cells from the staged inverted lists
    (`_ivf_assign`) so each query scores n/k candidates instead of n —
    same plan family as ann_ivf_topk, swapping the cell-equality predicate
    for cluster-inequality. Value safety: distances are index-order folds
    (bit-identical across engines), ranking ties break on n_id, and the
    kmeans assignment margin is ~7e-6 (measured) — nine orders above
    cross-engine float noise."""
    km = _kmeans_labels(spark, sf_dir).select("vec_id", "cluster")
    emb = _vectors(spark, sf_dir)
    lab = emb.join(km, "vec_id")
    q = lab.filter(F.col("vec_id") < _RECALL_N_QUERIES).alias("q")
    n = lab.alias("n")
    pairs = (
        F.broadcast(q)
        .join(n, F.col("q.cluster") != F.col("n.cluster"))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("q.cluster").alias("q_cluster"),
            F.col("n.vec_id").alias("n_id"),
            F.col("n.cluster").alias("n_cluster"),
            _l2_fold(F.col("q.e"), F.col("n.e")).alias("d"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("q_id").orderBy("d", "n_id"))
    return (
        pairs.withColumn("rank", rn)
        .filter(F.col("rank") <= _RECALL_K)
        .select(
            "q_id",
            "q_cluster",
            "n_id",
            "n_cluster",
            F.round("d", 6).alias("d2"),
            "rank",
        )
        .orderBy("q_id", "rank")
    )
