"""Streaming adapter: the batch stages lift onto Structured Streaming
unchanged via foreachBatch (gaia_spark/streaming docstring contract).

The reference is strictly batch, so this is the forward-compat surface:
a file-streaming source over the corpus, the T1 extractor as the stage,
exactly-once via the checkpointed batch ids.
"""

import os

import pytest

from gaia_spark.operators.extract import extract_pages
from gaia_spark.streaming import foreach_batch_pipeline


def test_foreach_batch_runs_batch_stage_on_stream(
        spark, corpus_dir, oracle_result, tmp_path):
    import shutil

    src_dir = str(tmp_path / "pages_in")
    os.makedirs(src_dir)
    shutil.copy(os.path.join(corpus_dir, "pages.parquet"),
                os.path.join(src_dir, "pages.parquet"))
    static = spark.read.parquet(src_dir)
    out_dir = str(tmp_path / "stream_out")

    def sink(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream
        .foreachBatch(foreach_batch_pipeline(extract_pages, sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    assert got.count() == static.count()
    # byte-identical invariant holds through the streaming path too
    texts = {r.url: r.text for r in got.collect()}
    assert texts == oracle_result["texts"]


def test_streaming_exact_dedup_first_seen_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: the same fingerprint arriving in a
    LATER micro-batch must be suppressed by state; within a batch the
    min doc_id wins."""
    from gaia_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    schema = "doc_id long, text string"
    # batch file 1: dup pair (1,2) + unique 3
    spark.createDataFrame(
        [(2, "Alpha  beta"), (1, "alpha beta"), (3, "gamma")],
        schema).coalesce(1).write.parquet(src + "/b1")
    # batch file 2: re-sends "alpha beta" (dup of batch 1) + unique 9
    spark.createDataFrame(
        [(7, "ALPHA BETA"), (9, "delta")],
        schema).coalesce(1).write.parquet(src + "/b2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(src))
    q = (streaming_exact_dedup(stream).writeStream
         .format("memory").queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = {r.doc_id for r in spark.sql(
        "SELECT doc_id FROM dedup_out").collect()}
    # alpha-beta keeper = 1 (min in its first batch); 7 suppressed
    assert rows == {1, 3, 9}


def test_windowed_page_counts_watermark(spark, tmp_path):
    """Event-time windowed counts flow through the streaming engine
    with a watermark (availableNow drains everything)."""
    import datetime as dt
    from gaia_spark.streaming import windowed_page_counts

    src = str(tmp_path / "pages_ts_in")
    os.makedirs(src)
    t0 = dt.datetime(2021, 1, 1, 12, 0, 0)
    rows = [(f"u{i}", t0 + dt.timedelta(minutes=i * 7), "en")
            for i in range(6)]
    schema = "url string, warc_ts timestamp, lang string"
    spark.createDataFrame(rows, schema).write.parquet(src + "/b1")

    stream = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(src))
    q = (windowed_page_counts(stream, watermark="5 minutes").writeStream
         .format("memory").queryName("win_out").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_win"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r.win_start.minute, r.n_pages) for r in spark.sql(
        "SELECT * FROM win_out").collect()}
    # events at minutes 0,7 | 14 | 21,28 | 35; watermark = 12:35 - 5min
    # = 12:30, so the [30,40) window is still OPEN and must NOT emit —
    # append mode only releases windows the watermark has closed.
    assert got == {(0, 2), (10, 1), (20, 2)}


def test_streaming_windows_driver_query_matches_batch(spark):
    # the driver query's stream result must equal the same aggregate
    # computed in plain batch over the same synthetic event times
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    sf_dir = "/root/testdata/sf0.001"
    got = {tuple(map(str, r))
           for r in entry.streaming_windows(spark, sf_dir).collect()}
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang")
            .withColumn("warc_ts",
                        F.expr("timestamp'2026-01-01 00:00:00' + "
                               "make_interval(0,0,0,0,0, doc_id % 300, 0)")))
    want = {tuple(map(str, r)) for r in (
        docs.groupBy(F.window("warc_ts", "10 minutes").alias("win"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"), "lang", "n_pages")
    ).collect()}
    assert got == want and len(got) > 0


def test_streaming_sessions_gap_boundary_semantics(spark):
    # Empirical boundary contract: a gap of EXACTLY the timeout still
    # MERGES into one session (so the SQL twin splits on gap >
    # timeout); this test pins that so a Spark version change that
    # flips the boundary breaks loudly.
    import tempfile
    import pandas as pd
    from pyspark.sql import functions as F
    base = pd.Timestamp("2026-01-01 00:00:00")
    gap = pd.Timedelta(minutes=30)
    us = pd.Timedelta(microseconds=1)
    rows = [
        ("u_eq", 1, base.to_pydatetime()),
        ("u_eq", 2, (base + gap).to_pydatetime()),         # exact gap
        ("u_lt", 3, base.to_pydatetime()),
        ("u_lt", 4, (base + gap - us).to_pydatetime()),    # gap - 1us
    ]
    src_dir = tempfile.mkdtemp(prefix="gaia_sess_src_")
    spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp"
    ).write.mode("overwrite").parquet(src_dir)
    st = (spark.readStream
          .schema("user_id string, event_id long, ts timestamp")
          .parquet(src_dir)
          .withWatermark("ts", "1 hour")
          .groupBy(F.session_window(F.col("ts"), "30 minutes"),
                   F.col("user_id"))
          .agg(F.count(F.lit(1)).alias("n")))
    ckpt = tempfile.mkdtemp(prefix="gaia_sess_ck_")
    q = (st.select("user_id", "n").writeStream.format("memory")
         .queryName("sess_boundary_out")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).outputMode("complete").start())
    q.awaitTermination()
    got = sorted((r["user_id"], r["n"])
                 for r in spark.table("sess_boundary_out").collect())
    assert got == [("u_eq", 2), ("u_lt", 2)]


def test_streaming_hll_matches_batch_sketch(spark):
    """The streamed 256-register fold equals the batch sketch: same
    registers, same exact-integer estimate (register MAX-merge is
    HLL union, so micro-batch splits cannot change the result)."""
    import __spark_entry__ as entry
    from gaia_spark.functions.sketch import (_hll_shingles, hll_estimate,
                                             hll_ranked)
    sf_dir = "/root/testdata/sf0.001"
    got = [tuple(r) for r in
           entry.streaming_hll(spark, sf_dir).collect()]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = [tuple(r) for r in
            hll_estimate(hll_ranked(_hll_shingles(docs, 5, "text"),
                                    "s")).collect()]
    assert got == want and len(got) == 1


def test_enrich_with_dim_left_join_and_batch_equivalence(
        spark, tmp_path):
    """Stream-static enrichment: every fact row survives (misses get
    NULLs), and the drained stream equals the same join run as a
    batch — the stream-static contract."""
    import pandas as pd

    from gaia_spark.streaming import enrich_with_dim

    facts = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "fact_id long, k long")
    src_dir = str(tmp_path / "facts")
    facts.coalesce(1).write.parquet(src_dir)
    dim = spark.createDataFrame(
        [(10, "a"), (20, "b")], "dk long, attr string")

    st = spark.readStream.schema(facts.schema).parquet(src_dir)
    out = enrich_with_dim(st, dim, "k", "dk")
    q = (out.writeStream.format("memory")
         .queryName("enrich_t")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .outputMode("append").start())
    q.awaitTermination()
    got = spark.table("enrich_t").toPandas().sort_values(
        "fact_id").reset_index(drop=True)
    want = enrich_with_dim(facts, dim, "k", "dk").toPandas(
    ).sort_values("fact_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)])
    # no fact dropped; the miss carries NULL
    assert len(got) == 3
    assert got.loc[got.fact_id == 3, "attr"].isna().all()


def test_enrich_with_dim_broadcasts_the_dimension(spark):
    """Batch plan shape: the dimension side must be a broadcast
    exchange, not a shuffle."""
    from gaia_spark.streaming import enrich_with_dim

    from pyspark.sql import functions as F

    facts = spark.range(100).withColumn("k", F.col("id") % 10)
    dim = spark.range(10).select(F.col("id").alias("dk"),
                                 F.lit("x").alias("attr"))
    df = enrich_with_dim(facts, dim, "k", "dk")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_streaming_exact_dedup_tag_passthrough(spark, tmp_path):
    """tag_col variant: the keeper row carries the winning row's tag
    (the per-file batch marker), and a smaller id arriving with a
    LATER tag stays suppressed — the driver-artifact evidence shape
    (r4-verdict item #8)."""
    import time

    from gaia_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_tag_in")
    os.makedirs(src)
    schema = "doc_id long, text string, part long"
    spark.createDataFrame(
        [(50, "same text", 0), (60, "other", 0)],
        schema).coalesce(1).write.parquet(src + "/b1")
    time.sleep(1.1)
    spark.createDataFrame(
        [(1, "Same  Text", 1), (70, "third", 1)],
        schema).coalesce(1).write.parquet(src + "/b2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(src))
    q = (streaming_exact_dedup(stream, tag_col="part").writeStream
         .format("memory").queryName("dedup_tag_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_tag"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = {(r.doc_id, r.part) for r in spark.sql(
        "SELECT doc_id, part FROM dedup_tag_out").collect()}
    # "same text" keeper = 50 from batch 0 (1@batch1 suppressed
    # despite being smaller); uniques keep their own batch tag
    assert rows == {(50, 0), (60, 0), (70, 1)}


def test_streaming_exact_dedup_tag_tie_break_and_null(spark, tmp_path):
    """Equal doc_ids: the smallest tag wins whatever the row order,
    and a null tag passes through as null (sorting after any tag)."""
    from gaia_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_tie_in")
    schema = "doc_id long, text string, part long"
    spark.createDataFrame(
        [(5, "same text", 2), (5, "Same  Text", 1),
         (4, "pair", None), (4, "PAIR", 3),
         (8, "lone", None)],
        schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (streaming_exact_dedup(stream, tag_col="part").writeStream
         .format("memory").queryName("dedup_tie_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_tie"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    rows = {(r.doc_id, r.part) for r in spark.sql(
        "SELECT doc_id, part FROM dedup_tie_out").collect()}
    assert rows == {(5, 1), (4, 3), (8, None)}
