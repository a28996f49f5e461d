"""Streaming micro-batch extraction == batch oracle on a bounded stream."""

from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.oracle import extract_docs
from mit_spark.schema import DOCS
from mit_spark.streaming.micro_batch import run_stream
from mit_spark.synth import gen_docs

CFG = PipelineConfig(detector=DetectorOptions(detect_size=512))


def test_stream_available_now_matches_oracle(spark, tmp_path):
    docs = gen_docs(8)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckp = str(tmp_path / "ckp")
    # two "arrival" files -> at least one multi-file micro-batch drain
    spark.createDataFrame(docs[:4], schema=DOCS).write.parquet(inp)
    spark.createDataFrame(docs[4:], schema=DOCS).write.mode("append").parquet(inp)

    run_stream(spark, inp, out, ckp, CFG, available_now=True)

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in d["spans"]]
        for d in extract_docs(docs, CFG)
    }
    assert got == want

    # drain again: no new files -> no duplicate outputs (streaming checkpoint)
    run_stream(spark, inp, out, ckp, CFG, available_now=True)
    assert spark.read.parquet(out).count() == len(docs)


def test_streaming_drain_builder_idempotent(spark):
    """Registry builder contract: invoking the streaming_drain builder twice
    (as a hashing gate may) yields identical rows and re-stages nothing —
    the arrival files live behind a deterministic _STAGED marker."""
    import glob

    from mit_spark.queries import QUERIES, _staging_dir

    builder, _ = QUERIES["streaming_drain"]
    sf_dir = "/root/testdata/sf0.001"
    r1 = sorted(tuple(r) for r in builder(spark, sf_dir).collect())
    base = _staging_dir(sf_dir, "stream")
    files_before = sorted(glob.glob(f"{base}/in/*.parquet"))
    assert files_before
    r2 = sorted(tuple(r) for r in builder(spark, sf_dir).collect())
    assert r1 == r2
    assert sorted(glob.glob(f"{base}/in/*.parquet")) == files_before


def test_windowed_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics across micro-batch drains: a row
    arriving AFTER its window's state was evicted (event time older than
    watermark) is dropped, while in-order rows keep flowing. Uses a
    checkpointed parquet sink so the second drain continues the first's
    watermark instead of reprocessing."""
    import datetime as dt

    from pyspark.sql import Row, functions as F

    inp, out, ckp = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckp")

    def write_events(rows, path_idx):
        spark.createDataFrame(
            [Row(ts=t, event_type=k, value=float(v)) for t, k, v in rows]
        ).coalesce(1).write.mode("append").parquet(inp)

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    H = dt.timedelta(hours=1)

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .parquet(inp)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
                "n",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: hours 0..10 -> watermark lands at 9h; windows 0..8 emitted
    write_events([(base + i * H, "a", 1) for i in range(11)], 0)
    drain()
    got1 = {r["hour"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert len(got1) == 9  # windows 00..08 closed (end <= 10h - 1h)

    # batch 2: one LATE row in hour 5 (already closed+evicted) and fresh
    # rows at hours 11..13 -> watermark 12h; windows 9,10,11 emit, all n=1:
    # the late hour-5 row was dropped, not re-emitted or merged
    write_events([(base + 5 * H + dt.timedelta(minutes=30), "a", 9)], 1)
    write_events([(base + i * H, "a", 1) for i in (11, 12, 13)], 1)
    drain()
    rows2 = spark.read.parquet(out).collect()
    # append mode must emit each closed window exactly once — a merged or
    # re-emitted hour-5 correction would show up as a duplicate key here
    assert len(rows2) == len({(r["hour"], r["event_type"]) for r in rows2})
    got2 = {r["hour"]: r["n"] for r in rows2}
    assert got2["2024-01-01 05:00:00"] == 1  # unchanged: late row dropped
    new_hours = set(got2) - set(got1)
    assert new_hours == {
        "2024-01-01 09:00:00",
        "2024-01-01 10:00:00",
        "2024-01-01 11:00:00",
    }
    assert all(got2[h] == 1 for h in new_hours)


def test_histogram_merge_idempotent_under_batch_replay(spark, tmp_path):
    """foreachBatch side effects are at-least-once: a replayed micro-batch
    re-appends an IDENTICAL (bin, cnt, batch_id) partial. The merge must
    collapse on (bin, batch_id) first, so duplicated partial files change
    NOTHING in the merged sketch — the exact failure a crash between the
    parquet append and the offset commit would otherwise cause."""
    from pyspark.sql import functions as F

    from mit_spark.streaming.micro_batch import histogram_merge_stream

    inp = str(tmp_path / "in")
    parts = str(tmp_path / "partials")
    ckp = str(tmp_path / "ckp")
    rows = [(i, "w " * (i % 40 + 1)) for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        inp
    )
    histogram_merge_stream(spark, inp, parts, ckp, bin_width=8, n_bins=64)

    def merged():
        per_batch = (
            spark.read.parquet(parts)
            .groupBy("bin", "batch_id")
            .agg(F.max("cnt").alias("cnt"))
        )
        return {
            r["bin"]: (r["n"], r["nb"])
            for r in per_batch.groupBy("bin")
            .agg(F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("nb"))
            .collect()
        }

    before = merged()
    # simulate the replay: re-append every partial row verbatim
    spark.read.parquet(parts).write.mode("append").parquet(parts)
    assert merged() == before
