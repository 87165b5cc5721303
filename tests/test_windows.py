"""Session windows: batch and streaming forms."""


def test_sessionize_batch_matches_islands(spark):
    """Batch sessionize == independent gaps-and-islands recomputation
    (pure Python) on a hand-shaped corpus with exact-gap boundaries."""
    import datetime as dt

    from jarvis_ocr_service_spark.streaming.windows import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: 3 events 1 min apart -> one session...
    for k in range(3):
        rows.append((1, t0 + dt.timedelta(minutes=k), 10.0))
    # ...an event at EXACTLY last_ts + gap (minute 7) still MERGES —
    # Spark session windows merge when ranges touch (pinned here; the
    # DuckDB oracle mirrors with a strict > gap test)
    rows.append((1, t0 + dt.timedelta(minutes=7), 20.0))
    # user 1: one second past the touch point -> NEW session
    rows.append((1, t0 + dt.timedelta(minutes=12, seconds=1), 50.0))
    # user 2: single event, then 4:59 later -> SAME session
    rows.append((2, t0, 30.0))
    rows.append((2, t0 + dt.timedelta(minutes=4, seconds=59), 40.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r.user, r.session_start, r.session_end): (r.n_events, r.value_cents)
        for r in sessionize(df).collect()
    }
    g = dt.timedelta(minutes=5)
    assert got == {
        (1, t0, t0 + dt.timedelta(minutes=7) + g): (4, 5000),
        (1, t0 + dt.timedelta(minutes=12, seconds=1),
         t0 + dt.timedelta(minutes=17, seconds=1)): (1, 5000),
        (2, t0, t0 + dt.timedelta(minutes=4, seconds=59) + g): (2, 7000),
    }


def test_sessionize_streaming_merges_across_microbatches(spark, tmp_path):
    """The same sessionize expression over a watermarked stream: a session
    whose events arrive in different micro-batches must emit ONCE, merged."""
    import datetime as dt

    from pyspark.sql import functions as F

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1)
    # file 1: first half of user-1's session; file 2: second half + a
    # much-later event that advances the watermark past the session
    spark.createDataFrame(
        [(1, t0, 1.0), (1, t0 + dt.timedelta(minutes=1), 1.0)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.parquet(inp + "/f1")
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=2), 1.0),
         (1, t0 + dt.timedelta(hours=2), 9.0)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.parquet(inp + "/f2")

    ev = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        ev.groupBy(
            F.col("user_id").alias("user"),
            F.session_window("ts", "5 minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user", F.col("sw.start").alias("session_start"), "n_events")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.user, r.session_start): r.n_events
           for r in spark.read.parquet(out).collect()}
    # the 3-event session was split across micro-batches but must emit
    # merged (n_events == 3), exactly once
    assert got.get((1, t0)) == 3
