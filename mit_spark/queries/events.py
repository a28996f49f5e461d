"""Events and streaming — time windows, sessionization, per-key top-k, funnels,
as-of and interval joins over the events table (the batch forms of the
SURVEY.md §2.8 streaming operators), and the Structured Streaming entries
themselves. A streaming entry's DuckDB oracle states its batch result; the
stronger oracle is the batch-equality test in tests/test_streaming.py."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mit_spark.queries.core import _staged, _staging_dir, register
from mit_spark.queries.curation import _QSK_BINS, _QSK_BINW
from mit_spark.queries.media import _flagship_expected_body
from mit_spark.sources.docs_source import read_table


@register(
    "hourly_event_stats",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("hour", "event_type")
    )


@register(
    "user_topk_events",
    """
    SELECT user_id, event_id, round(value, 4) AS value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    ORDER BY user_id, value DESC, event_id
    """,
)
def user_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 4).alias("value"))
        .orderBy("user_id", F.desc("value"), "event_id")
    )


@register(
    "user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id ORDER BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min), the batch analogue of a session
    window in Structured Streaming."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_BIN_W = 1800  # bin width (s) for the range-join expansion — the tuning knob


def _interval_overlap_sql() -> str:
    # floor(epoch(...)) everywhere: DuckDB epoch() is fractional DOUBLE,
    # Spark unix_timestamp() is truncated seconds — floor makes the two
    # sessionizations (and the overlap arithmetic) integer-identical.
    es = "CAST(floor(epoch(ts)) AS BIGINT)"
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, {es} AS es,
             CASE WHEN {es} - lag({es}) OVER w > 1800
                  OR lag({es}) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT user_id, es,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sessions AS (
      SELECT user_id, sid, min(es) AS s0, max(es) AS s1
      FROM tagged GROUP BY user_id, sid
    ), incidents AS (
      SELECT event_id AS inc_id, user_id AS iu,
             {es} - 300 AS i0, {es} + 300 AS i1
      FROM events WHERE event_type = 'purchase' AND value >= 100.0
    )
    SELECT inc_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(least(s1, i1) - greatest(s0, i0)) AS BIGINT) AS overlap_sec
    FROM incidents JOIN sessions
      ON s0 <= i1 AND i0 <= s1 AND user_id <> iu
    GROUP BY inc_id ORDER BY inc_id
    """


_FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_sql() -> str:
    t1, t2, t3 = _FUNNEL_STEPS
    ep = "CAST(floor(epoch({0})) AS BIGINT)"  # match Spark unix_timestamp
    return f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = '{t1}' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = '{t2}' GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = '{t3}' GROUP BY e.user_id
    ), j AS (
      SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT CAST(count(t1) AS BIGINT) AS users_{t1},
           CAST(count(t2) AS BIGINT) AS users_{t2},
           CAST(count(t3) AS BIGINT) AS users_{t3},
           CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL
                 THEN {ep.format('t2')} - {ep.format('t1')} END), 0) AS BIGINT)
             AS {t2}_delay_total_sec,
           CAST(coalesce(sum(CASE WHEN t3 IS NOT NULL
                 THEN {ep.format('t3')} - {ep.format('t2')} END), 0) AS BIGINT)
             AS {t3}_delay_total_sec
    FROM j
    """


@register("funnel_conversion", _funnel_sql())
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-step funnel conversion (view -> click -> purchase) with
    first-touch, strictly-increasing-timestamp semantics — the
    sequential-behavior aggregate the session/asof entries don't cover:
    step k counts users whose EARLIEST step-k event falls strictly after
    their committed step-(k-1) time, so a click before the first view
    never converts and each user contributes once per step. Emits the
    per-step user counts plus total step-to-step delay seconds (exact
    BIGINT epoch arithmetic; DuckDB's fractional epoch() floored to match
    Spark's unix_timestamp). Scale shape: every stage — the three
    first-event aggregations and the two step joins — is keyed on
    user_id, so one hash partitioning serves the whole plan (AQE reuses
    the exchanges); each step join probes only the PREVIOUS step's
    survivors (monotonically shrinking build sides), and the final
    single-row reduce is map-side combinable. No windows, no event-level
    self-join — cost is f(events) once plus f(converting users)."""
    t1, t2, t3 = _FUNNEL_STEPS
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == t1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == t2)
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == t3)
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    j = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    delay = lambda a, b: F.when(  # noqa: E731
        F.col(b).isNotNull(), F.unix_timestamp(b) - F.unix_timestamp(a)
    )
    return j.agg(
        F.count("t1").cast("long").alias(f"users_{t1}"),
        F.count("t2").cast("long").alias(f"users_{t2}"),
        F.count("t3").cast("long").alias(f"users_{t3}"),
        F.coalesce(F.sum(delay("t1", "t2")), F.lit(0))
        .cast("long")
        .alias(f"{t2}_delay_total_sec"),
        F.coalesce(F.sum(delay("t2", "t3")), F.lit(0))
        .cast("long")
        .alias(f"{t3}_delay_total_sec"),
    )


@register("interval_overlap_join", _interval_overlap_sql())
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval-overlap JOIN via bin expansion — the operator Spark
    has no native physical strategy for (a naive ts-range theta-join plans
    as a nested-loop/cartesian). Two interval sets derived from events:
    gap-based user sessions [s0, s1] and "incident" windows (+/-300 s
    around each high-value purchase); for every incident, count OTHER
    users' sessions overlapping it and the total overlap seconds.

    Scale shape: both sides explode into the fixed-width time bins they
    cover (`F.sequence(floor(lo/W), floor(hi/W))`, W = 1800 s), and since
    two intervals can only overlap if they share at least one bin, the
    range join becomes an EQUI-join on the bin key — shuffle-partitionable,
    skew-handled by AQE like any hash join — followed by the exact overlap
    filter and a distinct to collapse multi-bin matches. Candidate count is
    |pairs sharing a bin|, not |A| x |B|; W is the knob (W ~ median
    interval length keeps expansion factor ~2). The DuckDB oracle states
    the same semantics as the naive theta-join — the bin plan is invisible
    in the result, which is the point. All arithmetic is integer seconds
    (floored epochs), bit-exact cross-engine."""
    e = read_table(spark, sf_dir, "events")
    ev = e.select("user_id", "event_id", "ts", F.unix_timestamp("ts").alias("es"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("es").over(w)
    tagged = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | ((F.col("es") - prev) > 1800), 1).otherwise(0),
    ).withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sessions = tagged.groupBy("user_id", "sid").agg(
        F.min("es").alias("s0"), F.max("es").alias("s1")
    )
    incidents = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") >= 100.0))
        .select(
            F.col("event_id").alias("inc_id"),
            F.col("user_id").alias("iu"),
            (F.unix_timestamp("ts") - 300).alias("i0"),
            (F.unix_timestamp("ts") + 300).alias("i1"),
        )
    )
    sb = sessions.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("s0") / _BIN_W), F.floor(F.col("s1") / _BIN_W))),
    )
    ib = incidents.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("i0") / _BIN_W), F.floor(F.col("i1") / _BIN_W))),
    )
    cand = ib.join(sb, "bin").filter(
        (F.col("s0") <= F.col("i1"))
        & (F.col("i0") <= F.col("s1"))
        & (F.col("user_id") != F.col("iu"))
    )
    pairs = cand.select("inc_id", "user_id", "sid", "s0", "s1", "i0", "i1").distinct()
    return (
        pairs.groupBy("inc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.least("s1", "i1") - F.greatest("s0", "i0"))
            .cast("long")
            .alias("overlap_sec"),
        )
        .orderBy("inc_id")
    )


@register(
    "event_type_matrix",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase
    FROM events GROUP BY user_id
    HAVING count(*) > 10
    ORDER BY user_id
    """,
)
def event_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")  # noqa: E731
    return (
        e.groupBy("user_id")
        .agg(
            cnt("click"),
            cnt("view"),
            cnt("purchase"),
            F.count(F.lit(1)).alias("_total"),
        )
        .filter(F.col("_total") > 10)
        .drop("_total")
        .orderBy("user_id")
    )


@register(
    "streaming_drain",
    _flagship_expected_body()
    + """
    SELECT doc AS doc_id, count(*) AS n_spans
    FROM alltexts WHERE doc < 'doc-00000040'
    GROUP BY doc ORDER BY doc_id
    """,
)
def streaming_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.8 as a registry entry: write a docs slice as two
    parquet 'arrival' files, drain them through the Structured Streaming
    wrapper (availableNow + foreachBatch + checkpoint), and return the
    extracted span counts per doc, ORACLE-GATED: expected per-doc output
    span counts come from the same DuckDB generator re-derivation the
    flagship oracles use, so a duplicate append (a replayed batch), a
    dropped doc, or a missed detection all flip the hash.

    IDEMPOTENT builder: the staging dir is derived deterministically from
    sf_dir and this build's code (no mkdtemp; per-user — see _staging_dir),
    arrival-file setup runs once behind a _STAGED marker, and re-invocations
    only re-drain the already-checkpointed stream (a no-op append) — calling
    the builder N times yields identical output and writes no new files
    after the first call."""
    from mit_spark.config import DetectorOptions, PipelineConfig
    from mit_spark.sources.docs_source import load_docs
    from mit_spark.streaming.micro_batch import run_stream

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=512))
    base = _staging_dir(sf_dir, "stream")
    inp, out, ckp = f"{base}/in", f"{base}/out", f"{base}/ckp"

    def _build():
        # deterministic doc slice: first 40 doc_ids, arrivals split 20/20
        docs = load_docs(spark, sf_dir, max_doc_no=40)
        docs.filter(F.col("doc_id") < "doc-00000020").write.mode("overwrite").parquet(inp)
        docs.filter(F.col("doc_id") >= "doc-00000020").write.mode("append").parquet(inp)

    _staged(base, _build)

    run_stream(spark, inp, out, ckp, cfg, available_now=True)
    run_stream(spark, inp, out, ckp, cfg, available_now=True)  # re-drain of committed offsets: a no-op

    return (
        spark.read.parquet(out)
        .select("doc_id", F.size("spans").cast("bigint").alias("n_spans"))
        .orderBy("doc_id")
    )


@register(
    "streaming_stateful_dedup",
    """
    WITH d AS (SELECT doc_id, md5(trim(text)) AS h FROM documents),
    files AS (
      SELECT doc_id, h, 0 AS f FROM d WHERE doc_id < 400
      UNION ALL
      SELECT doc_id, h, 1 FROM d WHERE doc_id >= 200 AND doc_id < 700
      UNION ALL
      SELECT doc_id, h, 2 FROM d WHERE doc_id >= 500
    ), r AS (
      SELECT doc_id, h,
             row_number() OVER (PARTITION BY h ORDER BY f, doc_id) AS rn
      FROM files
    )
    SELECT doc_id::BIGINT AS doc_id, h AS content_hash
    FROM r WHERE rn = 1 ORDER BY doc_id
    """,
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the SQL gate: three
    overlapping arrival files (re-crawl waves: [0,400), [200,700),
    [500,inf) by doc_id) drain through applyInPandasWithState exact dedup
    (streaming/micro_batch.py stateful_dedup_stream) — first arrival of
    each content hash is emitted, every re-send suppressed by GroupState
    that persists across micro-batches and across the re-drain of
    committed offsets. Arrival order is pinned by explicit mtimes +
    maxFilesPerTrigger=1, so the oracle can replicate 'first file, then
    min doc_id' as a plain window over the file-membership union. A
    duplicate emit (state lost), a dropped batch, or a wrong winner all
    flip the hash."""
    from mit_spark.streaming.micro_batch import stateful_dedup_stream

    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    base, inp = _stage_arrival_files(
        spark,
        sf_dir,
        "stream_sdedup",
        [
            d.filter(F.col("doc_id") < 400),
            d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 700)),
            d.filter(F.col("doc_id") >= 500),
        ],
    )
    out, ckp = f"{base}/out", f"{base}/ckp"
    stateful_dedup_stream(spark, inp, out, ckp)
    stateful_dedup_stream(spark, inp, out, ckp)  # re-drain: no new files, no new rows
    return spark.read.parquet(out).select("doc_id", "content_hash").orderBy("doc_id")


def _stage_arrival_files(spark: SparkSession, sf_dir: str, name: str, slices):
    """Stage DataFrame slices as mtime-pinned single-file parquet arrivals
    under one _STAGED marker (the file stream source orders micro-batches
    by mtime, so arrival-k IS micro-batch k when maxFilesPerTrigger=1).
    Shared by every streaming entry that needs a deterministic multi-batch
    arrival sequence. Returns (base, input_dir)."""
    import glob

    base = _staging_dir(sf_dir, name)
    inp = f"{base}/in"

    def _build() -> None:
        os.makedirs(inp, exist_ok=True)
        for k, s in enumerate(slices):
            part_dir = os.path.join(base, f"slice{k}")
            s.coalesce(1).write.mode("overwrite").parquet(part_dir)
            src = glob.glob(os.path.join(part_dir, "part-*"))[0]
            dst = os.path.join(inp, f"arrival-{k}.parquet")
            os.replace(src, dst)
            t = 1_700_000_000 + k * 60
            os.utime(dst, (t, t))

    _staged(base, _build)
    return base, inp


@register(
    "streaming_histogram_merge",
    f"""
    WITH c AS (
      SELECT doc_id,
             least(len(split(trim(text), ' ')) // {_QSK_BINW}, {_QSK_BINS - 1})
               AS bin
      FROM documents
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT doc_id % 4) AS BIGINT) AS n_batches
    FROM c GROUP BY bin ORDER BY bin
    """,
)
def streaming_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch family's STREAMING twin under the SQL gate: four arrival
    files (doc_id % 4, mtime-pinned, one micro-batch each) drain through
    histogram_merge_stream (streaming/micro_batch.py) — every micro-batch
    appends its <= 64-row token-length histogram PARTIAL stamped with the
    batch id, and the merged corpus sketch is sum(cnt) per bin over the
    partial table. foreachBatch's side-effect contract is AT-LEAST-ONCE
    (a crash between the parquet append and the offset commit replays the
    batch), so the merge first collapses on (bin, batch_id) — a replayed
    batch writes IDENTICAL rows, making the pipeline idempotent by
    construction rather than by luck; the no-op re-drain below exercises
    the checkpoint path. `n_batches` (distinct batches contributing to a
    bin) PROVES the merge spanned multiple micro-batches; since file k
    holds exactly the docs with doc_id % 4 == k, the oracle re-derives it
    as count(DISTINCT doc_id % 4) per bin. A lost batch, a double-applied
    batch surviving the dedupe, or a wrong bin boundary each flip cnt or
    n_batches.

    Scale shape: per-batch state is bounded at n_bins rows regardless of
    batch size (the point of a mergeable sketch); the final merge is one
    combinable groupBy over n_bins x n_batches rows — at a year of
    micro-batches still driver-sized. Integer counters end to end. Bin
    geometry comes from the SAME _QSK_* constants as quantile_sketch_eval,
    so the two entries and their oracles cannot drift."""
    from mit_spark.streaming.micro_batch import histogram_merge_stream

    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    base, inp = _stage_arrival_files(
        spark, sf_dir, "stream_hmerge", [d.filter(F.col("doc_id") % 4 == k) for k in range(4)]
    )
    parts, ckp = f"{base}/partials", f"{base}/ckp"
    histogram_merge_stream(
        spark, inp, parts, ckp, bin_width=_QSK_BINW, n_bins=_QSK_BINS
    )
    histogram_merge_stream(  # re-drain: no new files, appends nothing
        spark, inp, parts, ckp, bin_width=_QSK_BINW, n_bins=_QSK_BINS
    )
    per_batch = (
        spark.read.parquet(parts)
        .groupBy("bin", "batch_id")
        .agg(F.max("cnt").alias("cnt"))
    )
    return (
        per_batch.groupBy("bin")
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
        )
        .orderBy("bin")
    )


def _stage_events(sf_dir: str) -> str:
    """The events table staged as a directory of parquet files — the file
    stream source requires a DIRECTORY; built once per sf_dir and build
    behind a marker (same idempotent pattern as streaming_drain) and shared
    by every streaming entry that reads the event stream."""
    import shutil

    src = f"{sf_dir}/events.parquet"
    base = _staging_dir(sf_dir, "events")

    def _build():
        if os.path.isdir(src):
            for f_ in os.listdir(src):
                if f_.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f_), base)
        else:
            shutil.copy(src, base)

    _staged(base, _build)
    return base


@register(
    "streaming_windowed_stats",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events, mx
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with EVENT-TIME WINDOWS + WATERMARK, checked by
    a plain SQL oracle: stream the events table, window(ts, 1h) per
    event_type with a 1h watermark, drain with availableNow in APPEND mode.
    Append emits exactly the windows the final watermark closed
    (window_end <= max(ts) - 1h), so the bounded drain is a deterministic
    pure function of the input — the oracle applies the same cutoff in SQL.
    The two open trailing windows stay in (discarded) state, which is the
    late-data semantics the north rule's streaming stage needs at scale."""
    from mit_spark.streaming.micro_batch import windowed_event_stats

    base = _stage_events(sf_dir)
    out = windowed_event_stats(spark, base, name=f"wes_{os.path.basename(base)}")
    return out.orderBy("hour", "event_type")


@register(
    "streaming_session_windows",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sess AS (
      SELECT user_id, min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             count(*) AS n_events
      FROM tagged GROUP BY user_id, sid
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM sess, mx
    WHERE s_end <= m - INTERVAL 1 HOUR
    ORDER BY user_id, session_start
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION WINDOWS under the SQL gate: the event stream is
    grouped by Spark's native session_window(ts, '30 minutes') per user
    with a 1 h watermark and drained availableNow in APPEND mode — the
    variable-length stateful window the fixed window() entry can't
    express (per-key session state merges across micro-batches; a session
    closes only when the watermark passes its last-event + gap end). The
    oracle replays the same semantics as plain batch gap-sessionization
    (new session when the gap >= 30 min — session windows are half-open,
    so an exactly-gap-sized step does NOT merge) with the watermark
    cutoff session_end <= max(ts) - 1 h applied in SQL, which makes the
    bounded drain a deterministic pure function of the input. At scale
    the session state store is hash-partitioned on user_id across
    executors like any keyed stream — no driver state."""
    from mit_spark.streaming.micro_batch import session_window_stats

    base = _stage_events(sf_dir)
    out = session_window_stats(spark, base, name=f"ssw_{os.path.basename(base)}")
    return out.orderBy("user_id", "session_start")


@register(
    "events_asof_join",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, tag,
             max(CASE WHEN tag = 0 THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
      FROM tagged
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts,
           date_diff('second', click_ts, ts) AS gap_sec
    FROM w WHERE tag = 1 ORDER BY event_id
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN — for every purchase, the user's most recent click at or
    before it. Spark has no asof-join operator; the scalable formulation is
    union-the-two-streams + a running-max window: tag click=0/purchase=1,
    sort within user by (ts, tag, event_id), and take max(click ts seen so
    far) — because the frame is ordered by ts, the running max IS the
    last-at-or-before click, with no IGNORE NULLS dependence and no
    range-join explosion. ONE shuffle on user_id, running aggregate (no
    full-partition buffering); skewed power-users cost O(their events).
    The same-ts tie sorts the click first (tag 0 < 1), so a click in the
    same instant as the purchase matches it. gap_sec is the whole-second
    difference (both engines floor to the second boundary)."""
    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = tagged.withColumn(
        "click_ts", F.max(F.when(F.col("tag") == 0, F.col("ts"))).over(win)
    )
    return (
        w.filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
            (F.unix_timestamp("ts") - F.unix_timestamp("click_ts"))
            .cast("long")
            .alias("gap_sec"),
        )
        .orderBy("event_id")
    )


def _cohort_sql() -> str:
    # CAST(floor(epoch(..))) matches Spark unix_timestamp (DuckDB epoch()
    # is fractional DOUBLE); date_trunc('week') is ISO-Monday in both
    # engines, and consecutive UTC Mondays differ by exactly 604800 s, so
    # the week offset is an exact integer division. Retention is reported
    # in basis points via integer floor division — no double rounding to
    # diverge across engines.
    return """
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS w
      FROM events WHERE event_id % 13 = user_id % 13
    ), cohort AS (
      SELECT user_id, min(w) AS c0 FROM wk GROUP BY user_id
    ), act AS (
      SELECT c.c0, (w - c.c0) // 604800 AS week_offset, count(*) AS n_active
      FROM wk JOIN cohort c USING (user_id) GROUP BY 1, 2
    ), sizes AS (
      SELECT c0, n_active AS n_cohort FROM act WHERE week_offset = 0
    )
    SELECT a.c0 AS cohort_wk, CAST(a.week_offset AS BIGINT) AS week_offset,
           a.n_active, s.n_cohort,
           a.n_active * 10000 // s.n_cohort AS retention_bp
    FROM act a JOIN sizes s USING (c0)
    ORDER BY cohort_wk, week_offset
    """


@register("cohort_retention", _cohort_sql())
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the ISO week of their
    first event; cell (cohort, k) counts users active k weeks later, with
    retention in basis points (n_active * 10000 div n_cohort — integer
    floor division, bit-identical across engines). Completes the sequential-
    behavior family (user_sessions / events_asof_join / funnel_conversion)
    with the one classic product-analytics aggregate none of them covers.

    Plan shape: ONE corpus shuffle. The per-user week set is collected in a
    single user_id-keyed groupBy (collect_set over <=5 distinct Monday
    epochs — map-side partially aggregated, per-user state bounded by the
    calendar, not the event count); cohort week = array_min of that set, so
    no second distinct/groupBy/join on user_id is needed. Everything after
    the explode aggregates to a (weeks x offsets)-sized frame — driver-tiny
    at any corpus scale — and the cohort size is the offset-0 cell pulled
    sideways with a window over that tiny frame (no second corpus scan).
    The SQL oracle keeps the textbook relational form (distinct + min +
    join); the Spark plan is the one-shuffle rewrite of the same algebra."""
    e = read_table(spark, sf_dir, "events")
    # Deterministic thinning (event_id % 13 == user_id % 13): the synthetic
    # stream is so dense every user fires every week, collapsing the matrix
    # to one cohort; the thinned "attributable" stream spreads first-touch
    # weeks and opens real retention gaps while staying engine-agnostic.
    wk = e.filter((F.col("event_id") % 13) == (F.col("user_id") % 13)).select(
        "user_id", F.unix_timestamp(F.date_trunc("week", "ts")).alias("w")
    )
    per_user = wk.groupBy("user_id").agg(F.collect_set("w").alias("ws"))
    exploded = per_user.select(
        F.array_min("ws").alias("c0"), F.explode("ws").alias("w")
    )
    act = exploded.groupBy(
        "c0", F.expr("(w - c0) div 604800").alias("week_offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))
    # cohort size = the offset-0 cell (every user is active in their own
    # cohort week), pulled sideways with a window over the tiny act frame
    # instead of re-scanning the corpus for a separate sizes aggregate.
    sz = Window.partitionBy("c0")
    return (
        act.withColumn(
            "n_cohort",
            F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(sz),
        )
        .select(
            F.col("c0").alias("cohort_wk"),
            "week_offset",
            "n_active",
            "n_cohort",
            F.expr("n_active * 10000 div n_cohort").alias("retention_bp"),
        )
        .orderBy("cohort_wk", "week_offset")
    )
