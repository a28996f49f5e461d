"""Text analysis over documents — token statistics, quality rules,
perplexity and importance buckets, tokenizer counts, language ID,
decontamination, PII redaction and lexical profiles (the
training-data-pipeline operator set)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.functions import textstats as TS
from mit_spark.functions.textclean import clean_text_col, clean_text_sql
from mit_spark.queries.core import _doc_words, register
from mit_spark.sources.docs_source import read_table


_SW_SQL = "('" + "','".join(TS.STOPWORDS) + "')"


@register(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           len(split(trim(text), ' ')) AS n_tokens,
           round(length(regexp_replace(text, ' ', '', 'g'))
                 / len(split(trim(text), ' ')), 4) AS avg_token_len,
           round(len(list_filter(split(trim(text), ' '), x -> x IN {_SW_SQL}))
                 / len(split(trim(text), ' ')), 4) AS stopword_ratio
    FROM documents ORDER BY doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TS.token_count_col(t).alias("n_tokens"),
        TS.avg_token_len_col(t).alias("avg_token_len"),
        TS.stopword_ratio_col(t).alias("stopword_ratio"),
    ).orderBy("doc_id")


@register(
    "doc_quality_by_lang",
    f"""
    WITH scored AS (
      SELECT lang,
             0.5 * least(len(split(trim(text), ' ')) / 100.0, 1.0)
             + 0.5 * least(4 * len(list_filter(split(trim(text), ' '),
                                               x -> x IN {_SW_SQL}))
                           / len(split(trim(text), ' ')), 1.0) AS q
      FROM documents
    )
    SELECT lang, count(*) AS n_docs, round(avg(q), 4) AS avg_quality
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def doc_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = TS.tokens_col(t)
    sw = F.filter(toks, lambda x: x.isin(*TS.STOPWORDS))
    q = 0.5 * F.least(F.size(toks) / F.lit(100.0), F.lit(1.0)) + 0.5 * F.least(
        4 * F.size(sw) / F.size(toks), F.lit(1.0)
    )
    return (
        d.select("lang", q.alias("q"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality"))
        .orderBy("lang")
    )


def _gopher_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in ("the", "a", "data", "key"))
    return f"""
    WITH d AS (
      SELECT source, split(trim(text), ' ') AS words FROM documents
    ), m AS (
      SELECT source,
             len(words) AS n_words,
             list_reduce(list_transform(words, w -> len(w)), (acc, x) -> acc + x)
               AS total_chars,
             len(list_filter(words, w -> w IN ({stop}))) AS n_stop,
             len(list_filter(words, w -> regexp_matches(w, '^[a-z]+$'))) AS n_alpha
      FROM d
    ), flags AS (
      SELECT source,
             CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN total_chars < 3 * n_words
                  OR total_chars > 10 * n_words THEN 1 ELSE 0 END AS f_ml,
             CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_sw,
             CASE WHEN 5 * n_alpha < 4 * n_words THEN 1 ELSE 0 END AS f_al
      FROM m
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_wc) AS BIGINT) AS fail_wordcount,
           CAST(sum(f_ml) AS BIGINT) AS fail_meanlen,
           CAST(sum(f_sw) AS BIGINT) AS fail_stopword,
           CAST(sum(f_al) AS BIGINT) AS fail_alpha,
           CAST(sum(CASE WHEN f_wc + f_ml + f_sw + f_al = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS kept
    FROM flags GROUP BY source ORDER BY source
    """


@register("gopher_quality_rules", _gopher_sql())
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filtering (Rae et al. 2021,
    "Scaling Language Models", App. A1.1) — the standard first-pass filter
    a pretraining corpus goes through, reported as per-source counters of
    which rule each document fails plus the kept count: word count in
    [50, 1e5], mean word length in [3, 10], >= 2 stop words, >= 80% of
    words fully alphabetic. (The symbol/bullet/ellipsis rules are
    inapplicable to this corpus's single-line lowercase text and are
    omitted rather than shipped as always-zero counters.)

    Determinism: every ratio rule is stated as an INTEGER cross-multiply
    (mean length in [3,10] <=> 3*n_words <= total_chars <= 10*n_words;
    80% alpha <=> 5*n_alpha >= 4*n_words), so there is no float anywhere —
    counts are bit-exact cross-engine. Scale shape: all per-doc metrics
    come from ONE array-side codegen projection over the split text (no
    explode, no per-token shuffle — the r3 plan lesson), followed by a
    single map-side-combinable groupBy on the low-cardinality source key."""
    d = _doc_words(spark, sf_dir, "source")
    n_words = F.size("words")
    total_chars = F.aggregate(
        F.transform("words", F.length), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter("words", lambda w: w.isin(*TS.STOPWORDS)))
    n_alpha = F.size(F.filter("words", lambda w: w.rlike("^[a-z]+$")))
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    m = d.select(
        "source",
        flag((n_words < 50) | (n_words > 100000)).alias("f_wc"),
        flag((total_chars < 3 * n_words) | (total_chars > 10 * n_words)).alias("f_ml"),
        flag(n_stop < 2).alias("f_sw"),
        flag(5 * n_alpha < 4 * n_words).alias("f_al"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("f_wc").cast("long").alias("fail_wordcount"),
            F.sum("f_ml").cast("long").alias("fail_meanlen"),
            F.sum("f_sw").cast("long").alias("fail_stopword"),
            F.sum("f_al").cast("long").alias("fail_alpha"),
            F.sum(
                F.when(
                    (F.col("f_wc") + F.col("f_ml") + F.col("f_sw") + F.col("f_al")) == 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("kept"),
        )
        .orderBy("source")
    )


_GOPHER_TOP = {2: 0.20, 3: 0.18, 4: 0.16}  # Rae et al. 2021 Table A1
_GOPHER_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


# top-gram encoder: cnt * ENC + char_len. ENC bounds the representable gram
# char length: a 2-4-gram of >= ENC chars would alias into the count field
# and corrupt the stat IDENTICALLY in both engines (the oracle shares the
# encoding, so the value hash could not catch it). 1e9 makes the domain
# bound explicit and absurd — a single n<=10 word-gram of a billion chars —
# while cnt stays < 9.2e9 before BIGINT overflow, where Spark's ANSI mode
# fails loudly rather than wrapping.
_GOPHER_ENC = 1_000_000_000


def _gopher_rep_sql() -> str:
    tops = ", ".join(
        f"coalesce(max(CASE WHEN n = {k} THEN (topenc // {_GOPHER_ENC})"
        f" * (topenc % {_GOPHER_ENC}) END), 0) AS top{k}"
        for k in _GOPHER_TOP
    )
    dups = ", ".join(
        f"coalesce(max(CASE WHEN n = {k} THEN dupchars END), 0) AS dup{k}"
        for k in _GOPHER_DUP
    )
    top_out = ", ".join(
        f"round(top{k} / greatest(total, 1), 6) AS top_{k}gram_frac"
        for k in _GOPHER_TOP
    )
    dup_out = ", ".join(
        f"round(dup{k} / greatest(total, 1), 6) AS dup_{k}gram_frac"
        for k in _GOPHER_DUP
    )
    keep = " AND ".join(
        [
            f"top{k} / greatest(total, 1) <= CAST({v} AS DOUBLE)"
            for k, v in _GOPHER_TOP.items()
        ]
        + [
            f"dup{k} / greatest(total, 1) <= CAST({v} AS DOUBLE)"
            for k, v in _GOPHER_DUP.items()
        ]
    )
    return f"""
    WITH base AS (
      SELECT doc_id, split(trim(text), ' ') AS ws,
             length(trim(text)) AS total
      FROM documents
    ), grams AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
                                   i -> array_to_string(ws[i : i + n - 1], ' ')))
               AS gram
      FROM base, range(2, 11) t(n)
    ), gc AS (
      SELECT doc_id, n, gram,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(length(gram) AS BIGINT) AS glen
      FROM grams GROUP BY doc_id, n, gram
    ), pn AS (
      SELECT doc_id, n,
             sum((cnt - 1) * glen) AS dupchars,
             max(cnt * {_GOPHER_ENC} + glen) AS topenc
      FROM gc GROUP BY doc_id, n
    ), piv AS (
      SELECT doc_id, {tops}, {dups} FROM pn GROUP BY doc_id
    ), filled AS (
      SELECT b.doc_id, b.total,
             {", ".join(f"coalesce(top{k}, 0) AS top{k}" for k in _GOPHER_TOP)},
             {", ".join(f"coalesce(dup{k}, 0) AS dup{k}" for k in _GOPHER_DUP)}
      FROM base b LEFT JOIN piv USING (doc_id)
    )
    SELECT doc_id, {top_out}, {dup_out},
           CAST({keep} AS INT) AS keep
    FROM filled ORDER BY doc_id
    """


@register("gopher_repetition_rules", _gopher_rep_sql())
def gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal rules (Rae et al. 2021, App. A1.2): per
    document, the fraction of characters contained in the most frequent
    word n-gram for n=2..4 (count x gram chars / text chars) and the
    fraction of characters in DUPLICATED n-grams for n=5..10 (chars of
    every occurrence after the first, the overlap-counting simplification
    the public DataTrove/NeMo-Curator implementations use), plus the keep
    decision at Gopher's Table-A1 thresholds. Complements
    `quality_repetition_filter` (word-level dup/top ratios) and
    `gopher_quality_rules` (App. A1.1 length/stopword/alpha rules); the
    line/paragraph dup rules are inapplicable to this corpus's single-line
    text and are omitted rather than shipped as always-zero columns.

    Determinism: the "most frequent n-gram" is tie-broken to the LONGEST
    such gram by encoding (cnt, char_len) into one BIGINT
    (cnt*1e9 + len, len << 1e9) and taking max() — Counter-insertion
    order, the reference implementations' tie-break, is not reproducible
    in SQL. All nine fractions are single int/int double divisions
    (bit-exact cross-engine); the keep flag compares the UNROUNDED
    doubles against the double thresholds.

    Plan shape: the corpus is read ONCE; tokens posexplode to
    (doc_id, pos, word) rows, a doc_id-keyed window adds lead(word, 1..9),
    and one stack() unpivots the nine per-position grams (concat_ws over
    word + its leads, null past the doc end) — NO higher-order functions
    anywhere in the plan. This replaced the r5-interim explode +
    single-level `transform` form after an A/B under the bench's
    noop-write protocol measured the HOF interpreter as the entire
    bottleneck: HOFs never enter whole-stage codegen, and the ~2.2M
    interpreted lambda evaluations cost 7.6 s where the window+stack form
    costs 1.9 s (3.4×) for row-identical output. Earlier HOF-internal
    variants (xxhash64 gram keys, a shuffle-free per-row sort+run-length
    aggregate, a nested transform-over-sequence that also paid ~4 s of
    Janino compile) were all within ±10% of each other — the win required
    leaving the HOF lane entirely, at the price of ONE extra exchange of
    bare token rows keyed on doc_id (window state is bounded by the
    longest document; skew is per-doc, not corpus-global). A slice-based
    no-shuffle alternative (tokens carry the full word array, gram =
    slice(ws, pos+1, n)) measured 4.3 s — Generate's per-token copy of
    the array costs more than the token shuffle. (Measurement lesson:
    .count() A/Bs are useless here — Catalyst prunes the aggregate VALUES
    under a count, leaving only the group-key explode; A/B with noop
    writes.) Downstream: one combinable count shuffle keyed on
    (doc_id, n, gram), one combinable rollup to (doc_id, n), a 9-rows-per-
    doc pivot, and a final left join back to the doc spine for sub-2-word
    documents. Gram keys include doc_id, so skew is bounded by a single
    document's repetition — no corpus-global hot key."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        TS.tokens_col("text").alias("ws"),
        F.length(F.trim("text")).cast("long").alias("total"),
    )
    toks = d.select("doc_id", F.posexplode("ws").alias("i", "w"))
    wn = Window.partitionBy("doc_id").orderBy("i")
    t2 = toks.select(
        "doc_id", "w", *[F.lead("w", k).over(wn).alias(f"l{k}") for k in range(1, 10)]
    )
    gram_for = {
        n: F.when(
            F.col(f"l{n - 1}").isNotNull(),
            F.concat_ws(" ", F.col("w"), *[F.col(f"l{k}") for k in range(1, n)]),
        )
        for n in range(2, 11)
    }
    grams = (
        t2.select("doc_id", *[g.alias(f"g{n}") for n, g in gram_for.items()])
        .selectExpr(
            "doc_id",
            "stack(9, " + ", ".join(f"{n}, g{n}" for n in gram_for) + ") AS (n, gram)",
        )
        .where(F.col("gram").isNotNull())
    )
    gc = grams.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    glen = F.length("gram").cast("long")
    pn = gc.groupBy("doc_id", "n").agg(
        F.sum((F.col("cnt") - 1) * glen).alias("dupchars"),
        F.max(F.col("cnt") * _GOPHER_ENC + glen).alias("topenc"),
    )
    top_chars = (F.col("topenc") - F.col("topenc") % _GOPHER_ENC) / _GOPHER_ENC * (
        F.col("topenc") % _GOPHER_ENC
    )
    piv = pn.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == k, top_chars.cast("long"))), F.lit(0)
            ).alias(f"top{k}")
            for k in _GOPHER_TOP
        ],
        *[
            F.coalesce(F.max(F.when(F.col("n") == k, F.col("dupchars"))), F.lit(0)).alias(
                f"dup{k}"
            )
            for k in _GOPHER_DUP
        ],
    )
    filled = d.select("doc_id", "total").join(piv, "doc_id", "left")
    denom = F.greatest(F.col("total"), F.lit(1)).cast("double")
    fracs = {
        **{k: F.coalesce(F.col(f"top{k}"), F.lit(0)) / denom for k in _GOPHER_TOP},
        **{k: F.coalesce(F.col(f"dup{k}"), F.lit(0)) / denom for k in _GOPHER_DUP},
    }
    keep = None
    for k, v in {**_GOPHER_TOP, **_GOPHER_DUP}.items():
        c = fracs[k] <= F.lit(v)
        keep = c if keep is None else (keep & c)
    return filled.select(
        "doc_id",
        *[F.round(fracs[k], 6).alias(f"top_{k}gram_frac") for k in _GOPHER_TOP],
        *[F.round(fracs[k], 6).alias(f"dup_{k}gram_frac") for k in _GOPHER_DUP],
        keep.cast("int").alias("keep"),
    ).orderBy("doc_id")


_PPLX_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(split(trim(text), ' ')) AS t FROM documents
    ), lm AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t
    ), nn AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM lm
    ), s AS (
      SELECT t, CAST(floor(1000.0 * log2(CAST(n AS DOUBLE) / c)) AS BIGINT) AS s
      FROM lm, nn
    ), ds AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(s.s) AS DOUBLE) / count(*) AS score
      FROM toks JOIN s USING (t) GROUP BY doc_id
    ), q AS (
      SELECT quantile_cont(score, 0.25) AS q1, quantile_cont(score, 0.75) AS q3
      FROM ds
    )
    SELECT doc_id, n_tok, round(score, 6) AS surprisal_millibits,
           CASE WHEN score <= q1 THEN 'head'
                WHEN score <= q3 THEN 'middle' ELSE 'tail' END AS bucket
    FROM ds, q ORDER BY doc_id
    """


@register("lm_perplexity_buckets", _PPLX_SQL)
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020 §4.3): score every
    document with a corpus language model and split the corpus into
    head / middle / tail quality buckets at the score quartiles — the
    standard "keep the head, maybe the middle, drop the tail" curation
    dial. The LM here is the corpus unigram model; per-token surprisal is
    stored in INTEGER MILLIBITS, floor(1000*log2(N/c)), so the per-doc
    aggregate is a BIGINT sum (order-independent — a raw double sum over
    shuffled partitions is not reproducible) and the doc score is one
    int/int double division, bit-exact cross-engine. The only float that
    crosses an engine boundary is log2 inside the per-VOCAB-TERM table,
    where floor() could flip only if 1000*log2(N/c) sat within libm-ulp
    of an integer — measured margin >= 3e-3 millibits at all three test
    scales, guarded by tests/test_perplexity_margins.py (the kmeans
    assignment-margin discipline). Bucket boundaries are the exact
    quartiles; the boundary comparison is on identical doubles in both
    engines (nearest distinct score >= 3.7e-4 away, same guard).

    Plan shape at 100 TB: the vocab LM is the CCNet artifact — built by
    one combinable token-count shuffle, then BROADCAST into the scoring
    join (CCNet ships the LM to every worker; same thing), so the corpus
    shuffles once on doc_id for the per-doc sum. The quartile boundary
    agg uses Spark's exact percentile over the per-doc score table (one
    row per doc); at corpus scale the boundaries come from
    approx_percentile or a staged sample exactly as CCNet computes its
    cutoffs on a Wikipedia sample — the cutoff is a MODEL PARAMETER, not
    part of the scored data path."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", TS.tokens_col("text").alias("toks")
    )
    tok = d.select("doc_id", F.explode("toks").alias("t"))
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nn = lm.agg(F.sum("c").cast("long").alias("n"))
    s = lm.crossJoin(F.broadcast(nn)).select(
        "t",
        F.floor(F.lit(1000.0) * F.log2(F.col("n").cast("double") / F.col("c")))
        .cast("long")
        .alias("s"),
    )
    ds = (
        tok.join(F.broadcast(s), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("s").alias("ssum"),
        )
        .select(
            "doc_id",
            "n_tok",
            (F.col("ssum").cast("double") / F.col("n_tok")).alias("score"),
        )
    )
    q = ds.agg(F.expr("percentile(score, array(0.25D, 0.75D))").alias("qs")).select(
        F.col("qs")[0].alias("q1"), F.col("qs")[1].alias("q3")
    )
    return (
        ds.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "n_tok",
            F.round("score", 6).alias("surprisal_millibits"),
            F.when(F.col("score") <= F.col("q1"), "head")
            .when(F.col("score") <= F.col("q3"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


_DSIR_B = 64  # hashed-feature buckets (Xie et al. use 1e4; a parameter)


def _dsir_sql() -> str:
    return f"""
    WITH grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(ws[1 : greatest(len(ws) - 1, 0)],
                                   (w, i) -> w || ' ' || ws[i + 1])) AS gram
      FROM (SELECT doc_id, lang, split(trim(text), ' ') AS ws FROM documents)
    ), bkt AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT % {_DSIR_B} AS b
      FROM grams
    ), counts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS rc,
             CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS tc
      FROM bkt GROUP BY b
    ), tot AS (
      SELECT CAST(sum(rc) AS BIGINT) AS rtot, CAST(sum(tc) AS BIGINT) AS ttot
      FROM counts
    ), lam AS (
      SELECT b, CAST(floor(1000.0 * log2(
               (CAST(tc + 1 AS DOUBLE) / (ttot + {_DSIR_B}))
               / (CAST(rc + 1 AS DOUBLE) / (rtot + {_DSIR_B}))
             )) AS BIGINT) AS lam
      FROM counts, tot
    ), ds AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(lam) AS BIGINT) AS imp
      FROM bkt JOIN lam USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
           coalesce(imp, 0) AS importance_millibits,
           round(CAST(coalesce(imp, 0) AS DOUBLE)
                 / greatest(coalesce(n_grams, 0), 1), 6) AS avg_millibits,
           CAST(coalesce(imp, 0) > 0 AS INT) AS selected
    FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
    ORDER BY d.doc_id
    """


@register("dsir_importance_weights", _dsir_sql())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    score every raw document by the log importance ratio between a TARGET
    distribution and the RAW distribution, both modeled as bag-of-hashed-
    bigram multinomials. Target here = the lang='en' slice (the paper's
    "looks like the target domain" formulation with an in-corpus target);
    features = word bigrams hashed into {_DSIR_B} buckets via the md5
    idiom (`_h_sql`), add-one smoothed. The per-bucket log ratio is stored
    in INTEGER MILLIBITS — floor(1000*log2(pt/pr)) — so the per-doc
    importance is a BIGINT sum over gram occurrences (order-independent;
    the raw double sum a naive port would use is not reproducible across
    partitionings), and selection is the deterministic sign test
    importance > 0 (doc more target-like than raw). The only cross-engine
    float is log2 inside the {_DSIR_B}-row bucket table; floor-flip risk
    is margin-guarded by tests/test_perplexity_margins.py (measured
    >= 1.7e-3 millibits from the nearest integer; libm ulp ~ 1e-10).

    Plan shape at 100 TB: ONE gram pass computes both distributions (the
    target count is a conditional sum riding the same groupBy — no second
    corpus scan); the bucket table is {_DSIR_B} rows broadcast into the
    scoring join, so scoring shuffles the corpus once on doc_id. In
    production DSIR the bucket table is the trained artifact computed on
    a target sample and shipped to workers — identical topology. The doc
    spine LEFT JOIN reinstates gram-less (<2-word) docs at importance 0."""
    d = read_table(spark, sf_dir, "documents")
    gram_arr = F.expr(
        "transform(slice(ws, 1, size(ws) - 1), (w, i) -> concat(w, ' ', ws[i + 1]))"
    )
    grams = d.select("doc_id", "lang", TS.tokens_col("text").alias("ws")).select(
        "doc_id", "lang", F.explode(gram_arr).alias("gram")
    )
    bkt = grams.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long") % _DSIR_B).alias(
            "b"
        ),
    )
    counts = bkt.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("rc"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("tc"),
    )
    tot = counts.agg(
        F.sum("rc").cast("long").alias("rtot"), F.sum("tc").cast("long").alias("ttot")
    )
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.lit(1000.0)
            * F.log2(
                ((F.col("tc") + 1).cast("double") / (F.col("ttot") + _DSIR_B))
                / ((F.col("rc") + 1).cast("double") / (F.col("rtot") + _DSIR_B))
            )
        )
        .cast("long")
        .alias("lam"),
    )
    ds = (
        bkt.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("lam").cast("long").alias("imp"),
        )
    )
    return (
        d.select("doc_id")
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("imp", F.lit(0)).cast("long").alias("importance_millibits"),
            F.round(
                F.coalesce("imp", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("avg_millibits"),
            (F.coalesce("imp", F.lit(0)) > 0).cast("int").alias("selected"),
        )
        .orderBy("doc_id")
    )


@register(
    "boilerplate_strip",
    f"""
    SELECT doc_id,
           {clean_text_sql("('<nav><ul><li>home</li></ul></nav><article><p>' "
                           "|| text || '</p></article>"
                           "<script>var t=1;</script>"
                           "<footer>footer cruft</footer>')")} AS clean_text
    FROM documents ORDER BY doc_id
    """,
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-branch operator on its own: wrap each document in the
    boilerplate skeleton, then strip it with the SAME Catalyst expression
    chain the pipeline uses — the oracle applies the identical regex chain
    in DuckDB, proving the text path end-to-end in SQL."""
    d = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("<nav><ul><li>home</li></ul></nav><article><p>"),
        F.col("text"),
        F.lit("</p></article><script>var t=1;</script><footer>footer cruft</footer>"),
    )
    return d.select("doc_id", clean_text_col(raw).alias("clean_text")).orderBy("doc_id")


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens,
           len(split(trim(text), ' ')) AS n_ws_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs /
    digit runs / single punctuation) next to the whitespace count — both
    pure Catalyst (regexp_extract_all is codegen'd JVM regex)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)"))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(TS.tokens_col("text")).cast("long").alias("n_ws_tokens"),
    ).orderBy("doc_id")


@register(
    "rolling_fingerprint",
    """
    SELECT doc_id,
           list_reduce(list_transform(split(trim(text), ' '),
                                      w -> CAST(ascii(w) * 31 + length(w) * 7 AS BIGINT)),
                       (acc, k) -> (acc * 131 + k) % 1000000007) AS rolling_fp
    FROM documents ORDER BY doc_id
    """,
)
def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via a word-level polynomial rolling hash
    (base 131 mod 1e9+7), the order-sensitive cousin of exact_dedup's md5:
    reordered words change the fingerprint. Left-to-right integer fold is
    bit-identical across engines (DuckDB list_reduce seeds with the first
    element; Spark's aggregate from 0 yields the same first step since
    0*131 + k0 = k0)."""
    d = read_table(spark, sf_dir, "documents")
    keys = F.transform(
        TS.tokens_col("text"),
        lambda w: (F.ascii(w) * 31 + F.length(w) * 7).cast("long"),
    )
    fp = F.aggregate(keys, F.lit(0).cast("long"), lambda acc, k: (acc * 131 + k) % 1000000007)
    return d.select("doc_id", fp.alias("rolling_fp")).orderBy("doc_id")


_COLL_MIN_COUNT = 5
_COLL_TOPK = 20


@register(
    "collocation_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
      FROM (SELECT doc_id, split(trim(text), ' ') AS words FROM documents)
    ), uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), n_uni AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ), bic AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
      FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
    ), n_bi AS (SELECT CAST(sum(c_pair) AS BIGINT) AS n FROM bic),
    scored AS (
      SELECT b.w1, b.w2, b.c_pair, u1.c AS c_w1, u2.c AS c_w2,
             (CAST(b.c_pair AS DOUBLE) * CAST(n_uni.n AS DOUBLE)
              * CAST(n_uni.n AS DOUBLE))
             / (CAST(n_bi.n AS DOUBLE) * CAST(u1.c AS DOUBLE)
                * CAST(u2.c AS DOUBLE)) AS lift
      FROM bic b JOIN uni u1 ON b.w1 = u1.w
                 JOIN uni u2 ON b.w2 = u2.w, n_uni, n_bi
      WHERE b.c_pair >= {_COLL_MIN_COUNT}
    )
    SELECT w1, w2, c_pair, c_w1, c_w2, round(lift, 6) AS lift,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rnk
      FROM scored
    ) WHERE rnk <= {_COLL_TOPK} ORDER BY rank
    """,
)
def collocation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical collocation extraction — the corpus's top word pairs by
    PMI-style LIFT, P(w1,w2)/(P(w1)P(w2)), the standard phrase/multi-word-
    expression detector (Church & Hanks 1990) used to build tokenizer merge
    hints and phrase tables. The lift is the RATIONAL form
    c_pair * N_uni^2 / (N_bi * c_w1 * c_w2) — no log(): ranking is
    order-equivalent to PMI, and each engine evaluates the identical
    left-associated double product of exact integer counts, so the 6dp
    values and the (lift, w1, w2) ordering are bit-deterministic
    cross-engine (the tfidf_topk_terms discipline). c_pair >= 5 kills
    the hapax noise that dominates raw PMI.

    Scale shape: unigram and bigram counts are each ONE map-side-
    combinable groupBy; the marginals attach by two vocabulary-keyed
    equi-joins (AQE-broadcast here; shuffle joins with skew handling at
    web scale — 'the' is in every bigram); the two corpus totals ride as
    1-row broadcast frames, and the top-k window sees only pairs past the
    count floor, never the corpus."""
    d = _doc_words(spark, sf_dir, "doc_id")
    tok = d.select("doc_id", F.posexplode("words").alias("pos", "w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    bi = tok.select(F.col("w").alias("w1"), F.lead("w").over(win).alias("w2"))
    bic = (
        bi.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_pair"))
    )
    n_bi = bic.agg(F.sum("c_pair").cast("long").alias("n_bi"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        bic.filter(F.col("c_pair") >= _COLL_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .withColumn(
            "lift",
            (
                F.col("c_pair").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
            )
            / (
                F.col("n_bi").cast("double")
                * F.col("c_w1").cast("double")
                * F.col("c_w2").cast("double")
            ),
        )
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("lift"), "w1", "w2"))
    return (
        scored.withColumn("rank", rnk.cast("long"))
        .filter(F.col("rank") <= _COLL_TOPK)
        .select(
            "w1", "w2", "c_pair", "c_w1", "c_w2",
            F.round("lift", 6).alias("lift"), "rank",
        )
        .orderBy("rank")
    )


def _lang_id_sql() -> str:
    return """
    WITH seed_tok AS (
      SELECT lang, unnest(split(trim(text), ' ')) AS word
      FROM documents WHERE doc_id % 5 = 0
    ), lw AS (
      SELECT lang, word, count(*) AS cnt_lw FROM seed_tok GROUP BY lang, word
    ), lifted AS (
      SELECT lang, word, cnt_lw,
             CAST(cnt_lw * sum(cnt_lw) OVER () AS DOUBLE)
               / (sum(cnt_lw) OVER (PARTITION BY lang)
                  * sum(cnt_lw) OVER (PARTITION BY word)) AS lift
      FROM lw
    ), markers AS (
      SELECT lang AS m_lang, word, 9 - rnk AS weight FROM (
        SELECT lang, word, cnt_lw, lift,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY lift DESC, cnt_lw DESC, word) AS rnk
        FROM lifted
      ) WHERE rnk <= 8
    ), doc_tok AS (
      SELECT doc_id, lang, unnest(split(trim(text), ' ')) AS word FROM documents
    ), dw AS (
      SELECT doc_id, lang, word, count(*) AS n_occ FROM doc_tok GROUP BY doc_id, lang, word
    ), scores AS (
      SELECT doc_id, lang, m_lang, sum(n_occ * weight) AS score
      FROM dw JOIN markers ON dw.word = markers.word
      GROUP BY doc_id, lang, m_lang
    ), pred AS (
      SELECT doc_id, lang, m_lang AS pred_lang FROM (
        SELECT doc_id, lang, m_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, m_lang) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT d.lang AS actual_lang,
           coalesce(p.pred_lang, 'und') AS pred_lang,
           count(*) AS n_docs
    FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("language_id_ngram", _lang_id_sql())
def language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by n-gram(word)-profile scoring: a labeled seed slice
    (doc_id % 5 = 0) yields per-language marker words ranked by lift
    (P(word|lang) / P(word)); every document is then classified by the
    integer-weighted marker-hit score (weights 8..1 by marker rank — integer
    sums are shuffle-order independent, so the argmax matches the oracle
    exactly). Output is the confusion matrix vs the labeled lang column.

    Scale shape: profile build = one agg over the seed sample; the marker
    table (langs x 8 rows) is broadcast, so classification is map-side —
    no shuffle of the corpus beyond the per-doc word count."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(TS.tokens_col("text")).alias("word"))

    seed = tok.filter(F.col("doc_id") % 5 == 0)
    lw = seed.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt_lw"))
    w_all = Window.partitionBy()
    w_lang = Window.partitionBy("lang")
    w_word = Window.partitionBy("word")
    lift = (F.col("cnt_lw") * F.sum("cnt_lw").over(w_all)).cast("double") / (
        F.sum("cnt_lw").over(w_lang) * F.sum("cnt_lw").over(w_word)
    )
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("lift"), F.desc("cnt_lw"), F.asc("word"))
    )
    markers = (
        lw.withColumn("lift", lift)
        .withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 8)
        .select(F.col("lang").alias("m_lang"), "word", (9 - F.col("rnk")).alias("weight"))
    )

    dw = tok.groupBy("doc_id", "lang", "word").agg(F.count(F.lit(1)).alias("n_occ"))
    scores = (
        dw.join(F.broadcast(markers), "word")
        .groupBy("doc_id", "lang", "m_lang")
        .agg(F.sum(F.col("n_occ") * F.col("weight")).alias("score"))
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("m_lang"))
    )
    pred = (
        scores.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("m_lang").alias("pred_lang"))
    )
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .groupBy(F.col("lang").alias("actual_lang"),
                 F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


@register(
    "decontaminate_ngrams",
    """
    WITH corpus AS (
      SELECT doc_id, split(trim(text), ' ') AS words FROM documents
    ), tok AS (
      SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS w
      FROM corpus
    ), g AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' '
               || lead(w, 3) OVER win AS gram,
             lead(w, 3) OVER win AS w7
      FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), gd AS (
      SELECT DISTINCT doc_id, gram FROM g WHERE w7 IS NOT NULL
    )
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, count(*) AS n_shared
    FROM gd t JOIN gd b ON t.gram = b.gram
    WHERE t.doc_id % 50 <> 7 AND b.doc_id % 50 = 7
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data op that removes docs
    overlapping an evaluation set: flag every training doc sharing a word
    n-gram with any holdout doc (doc_id % 50 == 7 plays the benchmark;
    n=4 here so the tiny synthetic vocab yields a non-trivial overlap set —
    production corpora use 8-13-grams, a constant, not a plan change).
    Architecture is the one that scales: the HOLDOUT side's distinct grams
    are tiny (benchmarks are small) and broadcast, so the training corpus
    streams map-side through a hash probe — no shuffle of the 100 TB side."""
    d = _doc_words(spark, sf_dir, "doc_id")
    tok = d.select("doc_id", F.posexplode("words").alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, 4)]
    grams = tok.select(
        "doc_id",
        F.concat_ws(" ", *parts).alias("gram"),
        F.lead("w", 3).over(win).alias("w7"),
    ).filter(F.col("w7").isNotNull())
    gd = grams.select("doc_id", "gram").distinct()
    bench = gd.filter(F.col("doc_id") % 50 == 7).withColumnRenamed("doc_id", "bench_doc")
    train = gd.filter(F.col("doc_id") % 50 != 7).withColumnRenamed("doc_id", "train_doc")
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("train_doc", "bench_doc")
    )


_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1 555-[0-9]{4}"


@register(
    "pii_redaction",
    f"""
    WITH pii AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact: user' || doc_id || '@example.com or +1 555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_digest,
           CASE WHEN regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                    '{_PHONE_RE}', '<PHONE>', 'g') <> t
                THEN 1 ELSE 0 END AS was_redacted
    FROM pii ORDER BY doc_id
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — regex redaction of emails/phones, a standard
    training-data hygiene pass. PII is INJECTED deterministically (every
    5th doc gets a synthetic email+phone) so both engines see identical
    input; output is the per-doc digest of the redacted text plus a
    was_redacted flag. Pure Catalyst regexp_replace (codegen, no UDF);
    the patterns are restricted to the regex subset Java and RE2 share."""
    d = read_table(spark, sf_dir, "documents")
    pii_t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(pii_t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.md5(red).alias("redacted_digest"),
        F.when(red != pii_t, 1).otherwise(0).alias("was_redacted"),
    ).orderBy("doc_id")


@register(
    "token_length_quantiles",
    """
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_tok, 0.5), 4) AS p50,
           round(quantile_cont(n_tok, 0.9), 4) AS p90,
           round(quantile_cont(n_tok, 0.99), 4) AS p99
    FROM (SELECT lang, len(split(trim(text), ' ')) AS n_tok FROM documents)
    GROUP BY lang ORDER BY lang
    """,
)
def token_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profiling — EXACT per-language token-count quantiles
    (p50/p90/p99). Exact `percentile` (interpolating, = quantile_cont)
    rather than approx_percentile so the result is engine-deterministic;
    at 100 TB the per-group sort cost is bounded by group size, and the
    approx sketch is the documented swap-in when exactness can yield."""
    d = read_table(spark, sf_dir, "documents").select(
        "lang", F.size(TS.tokens_col("text")).alias("n_tok")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_tok, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(n_tok, 0.99)"), 4).alias("p99"),
        )
        .orderBy("lang")
    )


@register(
    "quality_repetition_filter",
    """
    WITH words AS (
      SELECT doc_id, w AS word
      FROM (SELECT doc_id, unnest(split(trim(text), ' ')) AS w FROM documents)
      WHERE w <> ''
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM words GROUP BY doc_id, word
    ), per AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT)   AS n_words,
             CAST(count(*) AS BIGINT) AS n_unique,
             CAST(max(c) AS BIGINT)   AS top_cnt
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_unique,
           round(1 - n_unique / CAST(n_words AS DOUBLE), 6) AS dup_word_ratio,
           round(top_cnt / CAST(n_words AS DOUBLE), 6)      AS top_word_frac,
           CAST(1 - n_unique / CAST(n_words AS DOUBLE) <= 0.6
                AND top_cnt / CAST(n_words AS DOUBLE) <= 0.12 AS INT) AS keep
    FROM per ORDER BY doc_id
    """,
)
def quality_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-word
    ratio (1 - unique/total) and most-frequent-word fraction, plus the keep
    decision at (<=0.6, <=0.12) — thresholds that split this corpus ~70/30.
    Two map-side-combinable aggregations (doc×word counts, then per-doc
    rollup), all codegen: the explode never leaves the JVM and the first
    groupBy partially aggregates before its shuffle, so cost is O(tokens)
    with one shuffle keyed on (doc_id, word) — shingle-free, no windows.
    The keep flag compares the UNROUNDED doubles: a/b is IEEE-identical
    across engines, so the boolean is engine-deterministic."""
    d = read_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(TS.tokens_col("text")).alias("word")
    ).filter(F.col("word") != "")
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    per = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.max("c").cast("long").alias("top_cnt"),
    )
    dup = F.lit(1) - F.col("n_unique") / F.col("n_words").cast("double")
    top = F.col("top_cnt") / F.col("n_words").cast("double")
    return per.select(
        "doc_id",
        "n_words",
        "n_unique",
        F.round(dup, 6).alias("dup_word_ratio"),
        F.round(top, 6).alias("top_word_frac"),
        ((dup <= 0.6) & (top <= 0.12)).cast("int").alias("keep"),
    ).orderBy("doc_id")


@register(
    "corpus_topk_ngrams",
    """
    WITH words AS (
      SELECT doc_id, generate_subscripts(split(trim(text), ' '), 1) AS pos,
             unnest(split(trim(text), ' ')) AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win AS gram,
             lead(w, 1) OVER win AS w1
      FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT gram,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams WHERE w1 IS NOT NULL
    GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 50
    """,
)
def corpus_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k bigram census — the table a decontamination or
    stop-list stage consumes. Bigrams are formed ARRAY-SIDE (adjacent
    pairs of the split array in one codegen projection — no per-doc window
    sort); then ONE combinable count shuffle keyed on the gram, and the
    global top-50 is a TakeOrdered on the already-aggregated gram table
    (count(*) partials merge map-side; count(DISTINCT doc_id) expands then
    re-aggregates — both shuffles on the gram key, never on raw tokens).
    Deterministic tiebreak: (n_occurrences DESC, gram)."""
    d = read_table(spark, sf_dir, "documents")
    gram_arr = F.expr(
        "transform(slice(ws, 1, size(ws) - 1), (w, i) -> concat(w, ' ', ws[i + 1]))"
    )
    grams = d.select("doc_id", TS.tokens_col("text").alias("ws")).select(
        "doc_id", F.explode(gram_arr).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(50)
    )


_BPE_TOPK = 20


@register(
    "bpe_merge_candidates",
    f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair,
             cnt
      FROM vocab
    ), agg AS (
      SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count FROM pairs GROUP BY pair
    )
    SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
             AS merge_rank,
           pair, pair_count
    FROM agg ORDER BY merge_rank LIMIT {_BPE_TOPK}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training (Sennrich et al. 2016):
    rank adjacent symbol pairs by corpus frequency — the top pair is the
    first merge a BPE learner would perform. Uses the classic scale trick
    that makes BPE training feasible on a 100 TB corpus: pair counts are
    computed over the WORD VOCABULARY weighted by word frequency, never
    over the raw token stream — one combinable word-count shuffle reduces
    the corpus to its vocabulary, then the pair explode runs on vocab-many
    rows (each word contributes len-1 pairs x its corpus count via a
    single integer multiply-free weighted sum). The final top-20 window
    runs on the pair-census table (bounded by vocab x max word length),
    not on anything corpus-sized. All-integer output, bit-exact."""
    d = read_table(spark, sf_dir, "documents")
    words = d.select(F.explode(TS.tokens_col("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    agg = pairs.groupBy("pair").agg(F.sum("cnt").cast("long").alias("pair_count"))
    rn = F.row_number().over(Window.orderBy(F.desc("pair_count"), F.asc("pair")))
    return (
        agg.withColumn("merge_rank", rn.cast("long"))
        .filter(F.col("merge_rank") <= _BPE_TOPK)
        .select("merge_rank", "pair", "pair_count")
        .orderBy("merge_rank")
    )


@register(
    "tfidf_topk_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(split(trim(text), ' ')) AS w FROM documents
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, w
    ), df AS (
      SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
    ), s AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents) / df.df
               AS score
      FROM tf JOIN df USING (w)
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM s
    )
    SELECT doc_id, term, tf, df, round(score, 6) AS score, rank
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by TF-IDF — the keyword
    profile used for topic tagging and near-duplicate triage. The IDF is
    the RATIONAL form tf * N / df (no log): ranking is order-equivalent to
    log-IDF for fixed tf, and integer-ratio doubles are bit-identical
    across engines, so the oracle stays value-exact (a log() would differ
    in the last ulp between libm builds and flip 6dp roundings).

    Scale shape: term counts are ONE map-side-combinable groupBy on
    (doc_id, term); doc frequency reuses that frame (already distinct per
    doc) with a second combinable groupBy on term; the tf<->df equi-join
    shuffles on term (AQE broadcasts when the vocabulary is small, as
    here; at web scale the vocab is huge and the shuffle join with its
    skew handling is the right plan — 'the' hits every doc). The top-3
    window partitions by doc_id, so no global sort touches the corpus;
    corpus size N is one driver scalar (same discipline as the iterative
    ops)."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.count()
    tok = d.select("doc_id", F.explode(TS.tokens_col("text")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    s = tf.join(df, "w").select(
        "doc_id",
        F.col("w").alias("term"),
        "tf",
        "df",
        (F.col("tf").cast("double") * F.lit(n_docs) / F.col("df")).alias("score"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        s.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"), "rank")
        .orderBy("doc_id", "rank")
    )


@register(
    "kgram_novelty_score",
    """
    WITH words AS (
      SELECT doc_id, generate_subscripts(split(trim(text), ' '), 1) AS pos,
             unnest(split(trim(text), ' ')) AS w
      FROM documents
    ), g0 AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS gram,
             lead(w, 2) OVER win AS w2
      FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), grams AS (
      SELECT DISTINCT doc_id, gram FROM g0 WHERE w2 IS NOT NULL
    ), owner AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
    FROM grams g JOIN owner o ON g.gram = o.gram
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def kgram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against the corpus: the share of a doc's
    DISTINCT word trigrams whose first corpus occurrence (min doc_id —
    ingestion-order proxy) is this document. The signal an incremental
    curation loop ranks candidate batches by: near-1 docs add new content,
    near-0 docs restate what the corpus already holds (the doc-level dual
    of `incremental_dedup`'s accept/reject decision).

    Plan shape: trigrams are formed ARRAY-SIDE in one codegen projection
    (slice+transform over the split array — `greatest(.., 0)` guards
    sub-3-word docs; no per-token window sort) and deduped per doc with
    `array_distinct` BEFORE the explode, so the exploded row count is
    bounded by distinct grams. Then ONE combinable min-shuffle keyed on the
    gram builds the first-occurrence table, and the join back is keyed on
    the same gram column — with AQE the two subtrees share the exchange
    layout, and gram keys are near-unique (no skew: a gram's row count is
    its doc frequency, already capped by the distinct). Per-doc totals are
    a final combinable count shuffle on doc_id. Nothing all-pairs, nothing
    driver-side; `novelty` is a single int/int double division (bit-exact
    cross-engine, the tfidf rule — no log, no float sums). Docs with fewer
    than 3 words have no trigrams and are absent by definition (both
    engines)."""
    d = read_table(spark, sf_dir, "documents")
    gram_arr = F.expr(
        "transform(slice(ws, 1, greatest(size(ws) - 2, 0)),"
        " (w, i) -> concat(w, ' ', ws[i + 1], ' ', ws[i + 2]))"
    )
    grams = d.select("doc_id", TS.tokens_col("text").alias("ws")).select(
        "doc_id", F.explode(F.array_distinct(gram_arr)).alias("gram")
    )
    owner = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(owner, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
    ).orderBy("doc_id")


_RARE_MAX_FREQ = 2  # hapax + dis legomena: corpus frequency <= 2


@register(
    "rare_token_profile",
    """
    WITH words AS (
      SELECT doc_id, unnest(split(trim(text), ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY w
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(min(f.cnt) AS BIGINT) AS min_freq,
           CAST(sum(CASE WHEN f.cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS rare_share
    FROM words t JOIN freq f ON t.w = f.w
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def rare_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-rarity profile against the corpus unigram
    table: token count, count of tokens whose CORPUS frequency is <= 2
    (hapax/dis legomena — OCR garble, codes, and gibberish concentrate
    there), the doc's minimum token frequency, and the rare-token share.
    The log-free stdlib stand-in for CCNet-style LM-perplexity quality
    filtering: a high rare share flags noise, a zero share flags pure
    boilerplate (exact floats: counts + ONE int/int division — a unigram
    logprob mean would sum doubles in engine-dependent order and log()'s
    last-ulp differences flip roundings, the r3 tfidf lesson).

    Plan shape: one combinable count shuffle keyed on the token builds the
    corpus frequency table; the join back is keyed on the same token
    column. Natural-language tokens are Zipf-skewed ('the' hits every
    doc) — AQE's skew-join split handles the head keys, and the frequency
    side is one row per DISTINCT token (vocab-sized, ~sqrt of corpus —
    broadcastable on a real cluster, where only min_freq keeps the full
    table in the join; a rare-only variant would broadcast just the
    cnt<=2 slice). Final per-doc rollup is a combinable shuffle on doc_id.
    Every doc appears (split yields >= 1 token, even for empty text —
    both engines)."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TS.tokens_col("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    per_doc = (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("cnt") <= _RARE_MAX_FREQ).cast("long"))
            .cast("long")
            .alias("n_rare"),
            F.min("cnt").alias("min_freq"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_rare",
        "min_freq",
        (F.col("n_rare").cast("double") / F.col("n_tokens")).alias("rare_share"),
    ).orderBy("doc_id")
