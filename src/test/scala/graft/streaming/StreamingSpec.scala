package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {

  /** One AvailableNow drain of the parquet files under `src` through
    * `transform` into the parquet `sink`, checkpointed at `cp`.
    */
  private def drain(src: String, schema: StructType, sink: String, cp: String, timeoutMs: Long = 60000)(
      transform: DataFrame => DataFrame
  ): Unit = {
    val q = StreamingIngest.ingestAvailableNow(spark, src, schema, sink, cp, transform)
    assert(q.awaitTermination(timeoutMs), s"stream did not terminate within ${timeoutMs / 1000}s")
  }

  test("AvailableNow file ingest drains the backlog exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val cp = s"$base/cp"
    val batch = Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2023-01-01 01:00:00"), 2.0),
      (2L, java.sql.Timestamp.valueOf("2023-01-01 00:30:00"), 5.0)
    ).toDF("timeseries_id", "datetime", "value")
    batch.write.parquet(src)

    val schema = StructType(Seq(
      StructField("timeseries_id", LongType),
      StructField("datetime", TimestampType),
      StructField("value", DoubleType)
    ))
    val q = StreamingIngest.ingestAvailableNow(spark, src, schema, sink, cp)
    assert(q.awaitTermination(60000), "stream did not terminate within 60s")
    assert(spark.read.parquet(sink).count() == 3)

    // second run with no new files: nothing re-ingested (checkpoint)
    val q2 = StreamingIngest.ingestAvailableNow(spark, src, schema, sink, cp)
    assert(q2.awaitTermination(60000), "stream did not terminate within 60s")
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("dedupeByLastPoint keeps per-series state across micro-batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream3").toString
    val src = s"$base/src"; val cp = s"$base/cp"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("timeseries_id", LongType),
      StructField("datetime", TimestampType),
      StructField("value", DoubleType)
    ))
    val sink = s"$base/sink"
    def run(): Unit =
      drain(src, schema, sink, cp)(StreamingIngest.dedupeByLastPoint(_).toDF())
    Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2023-01-01 02:00:00"), 2.0)
    ).toDF("timeseries_id", "datetime", "value").write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(sink).count() == 2)
    // second file REPLAYS 02:00 and adds 03:00: only 03:00 passes
    Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-01 02:00:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2023-01-01 03:00:00"), 3.0)
    ).toDF("timeseries_id", "datetime", "value").write.mode("append").parquet(src)
    run()
    val vals = spark.read.parquet(sink).select("value").collect().map(_.getDouble(0)).sorted.toList
    assert(vals == List(1.0, 2.0, 3.0)) // the replayed 02:00 was dropped
  }

  test("dedupeByFingerprint drops cross-batch duplicate docs, keeps first") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream5").toString
    val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fingerprint", LongType)
    ))
    def run(): Unit =
      drain(src, schema, sink, cp)(StreamingIngest.dedupeByFingerprint(_).toDF())
    // batch 1: fp 100 arrives twice in one batch (lower id wins), fp 200 once
    Seq((7L, 100L), (3L, 100L), (4L, 200L)).toDF("doc_id", "fingerprint").write.mode("append").parquet(src)
    run()
    val first = spark.read.parquet(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == Set((3L, 100L), (4L, 200L)))
    // batch 2: fp 100 replays with a NEW id (dropped), fp 300 is fresh
    Seq((9L, 100L), (5L, 300L)).toDF("doc_id", "fingerprint").write.mode("append").parquet(src)
    run()
    val all = spark.read.parquet(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((3L, 100L), (4L, 200L), (5L, 300L)))
  }

  test("detectBoilerplate emits a line hash ONCE, when its distinct-doc df crosses the threshold") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream6").toString
    val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
    new java.io.File(src).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("line_hash", LongType)
    ))
    def run(): Unit =
      drain(src, schema, sink, cp)(StreamingIngest.detectBoilerplate(_, minDocs = 2).toDF())
    // batch 1: hash 100 in docs 1+2 (crosses), hash 200 in doc 1 only
    // (below), hash 300 TWICE in doc 5 (within-doc repeat: df stays 1)
    Seq((1L, 100L), (2L, 100L), (1L, 200L), (5L, 300L), (5L, 300L))
      .toDF("doc_id", "line_hash").write.mode("append").parquet(src)
    run()
    val first = spark.read.parquet(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == Set((100L, 2L)), s"got $first")
    // batch 2: hash 100 replays (already emitted -> silent), hash 200
    // reaches doc 3 (crosses now), hash 300 repeats in doc 5 (still 1)
    Seq((3L, 200L), (9L, 100L), (5L, 300L))
      .toDF("doc_id", "line_hash").write.mode("append").parquet(src)
    run()
    val all = spark.read.parquet(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((100L, 2L), (200L, 2L)), s"got $all")
  }

  test("windowedDaily aggregates a stream into daily means") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream2").toString
    val src = s"$base/src"
    Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-01 06:00:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2023-01-01 18:00:00"), 4.0),
      (1L, java.sql.Timestamp.valueOf("2023-01-02 06:00:00"), 9.0)
    ).toDF("timeseries_id", "datetime", "value").write.parquet(src)
    val schema = StructType(Seq(
      StructField("timeseries_id", LongType),
      StructField("datetime", TimestampType),
      StructField("value", DoubleType)
    ))
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = StreamingIngest
      .windowedDaily(stream)
      .writeStream
      .format("memory")
      .queryName("daily_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "stream did not terminate within 60s")
    val rows = spark.sql("select * from daily_out order by date_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("value") == 3.0)
    assert(rows(1).getAs[Double]("value") == 9.0)
  }

  test("supersedeForecastsStream emits only issue improvements across micro-batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream4").toString
    val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
    new java.io.File(src).mkdirs()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(
      StructField("series_id", LongType),
      StructField("band", StringType),
      StructField("valid_ts", TimestampType),
      StructField("tile_x", IntegerType),
      StructField("tile_y", IntegerType),
      StructField("issue_ts", TimestampType)
    ))
    def run(): Unit =
      drain(src, schema, sink, cp)(StreamingIngest.supersedeForecastsStream(_).toDF())
    // batch 1: two issues for the same (valid, tile) arrive together —
    // only the newer one must come out
    Seq(
      (1L, "b1", ts("2024-01-02 00:00:00"), 0, 0, ts("2024-01-01 00:00:00")),
      (1L, "b1", ts("2024-01-02 00:00:00"), 0, 0, ts("2024-01-01 12:00:00"))
    ).toDF("series_id", "band", "valid_ts", "tile_x", "tile_y", "issue_ts")
      .write.mode("append").parquet(src)
    run()
    // batch 2: one older issue (suppressed by state) + one newer (emitted)
    Seq(
      (1L, "b1", ts("2024-01-02 00:00:00"), 0, 0, ts("2024-01-01 06:00:00")),
      (1L, "b1", ts("2024-01-02 00:00:00"), 0, 0, ts("2024-01-02 00:00:00"))
    ).toDF("series_id", "band", "valid_ts", "tile_x", "tile_y", "issue_ts")
      .write.mode("append").parquet(src)
    run()
    val out = spark.read.parquet(sink).orderBy("issue_ts").collect()
      .map(_.getAs[java.sql.Timestamp]("issue_ts"))
    assert(out.toList == List(ts("2024-01-01 12:00:00"), ts("2024-01-02 00:00:00")))
  }

  test("screenAgainstBandIndex: stream-static probe of the persisted index converges to the batch screen") {
    import spark.implicits._
    import graft.ml.Dedup
    import graft.tables.TestTables
    val docs = TestTables.documents(spark, sf001)
    val incomingPred = col("doc_id") % 3 === 0
    // stream input: (doc_id, simhash) in the same md5-portable family
    // the batch twin hashes with (token-less docs produce no simhash
    // row and are asserted separately)
    val sims = Dedup.simHash(docs.filter(incomingPred), "doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("simhash", LongType)))

    // the default 7x8-bit layout and the 5-band layout the scaled
    // rehearsal switches to, each at its pigeonhole Hamming budget
    for ((nBands, maxHamming) <- Seq((7, 6), (5, 4))) {
      val base = java.nio.file.Files.createTempDirectory(s"stream-bands$nBands").toString
      val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
      val idxPath = s"$base/idx"
      new java.io.File(src).mkdirs()

      // corpus half persisted ONCE, exactly as a crawl loop would
      Dedup
        .buildBandIndex(docs.filter(!incomingPred), "doc_id", "text", nBands = nBands)
        .write.partitionBy("band").parquet(idxPath)
      val bandIndex = spark.read.parquet(idxPath)

      def run(): Unit =
        drain(src, schema, sink, cp, timeoutMs = 120000)(
          StreamingIngest.screenAgainstBandIndex(_, bandIndex, maxHamming, nBands).toDF())

      // two crawl batches against the same stored index; batch 2 also
      // RE-CRAWLS part of batch 1 — the emit-once state must suppress
      // the replayed docs across batches (the q_stream_screen row times
      // a single batch, so this cross-batch guarantee lives here)
      sims.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      run()
      sims.filter(col("doc_id") % 2 === 1)
        .unionByName(sims.filter(col("doc_id") % 4 === 0))
        .write.mode("append").parquet(src)
      run()

      def verdicts(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.get(2)), Option(r.get(3)))).toSet
      val streamed = verdicts(spark.read.parquet(sink))
      val batch = verdicts(Dedup
        .simHashScreen(docs.filter(incomingPred), "doc_id", "text", bandIndex, maxHamming, nBands)
        .join(sims.select("doc_id"), Seq("doc_id"), "left_semi")) // docs that had a simhash
      val diverged = (streamed diff batch) ++ (batch diff streamed)
      assert(streamed == batch, s"nBands=$nBands stream/batch divergence: $diverged")
      assert(batch.exists(_._2), s"nBands=$nBands: the screen must flag some near-dup")

      // re-crawl replay: the same docs again produce NOTHING new
      sims.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
      run()
      val replayed = spark.read.parquet(sink).count()
      assert(replayed == streamed.size.toLong, s"nBands=$nBands: re-crawled docs must be suppressed")
    }
  }

  test("screenPerplexityStream: stream-static LM probe converges to the batch screen") {
    import spark.implicits._
    import graft.ml.{KnLm, TextStats}
    import graft.tables.TestTables
    val base = java.nio.file.Files.createTempDirectory("stream8").toString
    val src = s"$base/src"; val cp = s"$base/cp"; val sink = s"$base/sink"
    val idxPath = s"$base/idx"
    new java.io.File(src).mkdirs()

    val docs = TestTables.documents(spark, sf001)
    val toks = TextStats.tokens(col("text"))
    // corpus LM persisted ONCE, exactly as a crawl loop would
    KnLm
      .buildLmIndex(KnLm.docBigrams(docs.filter(col("doc_id") % 3 =!= 1), "doc_id", toks))
      .write.parquet(idxPath)
    val lmIndex = spark.read.parquet(idxPath)

    val incoming = docs.filter(col("doc_id") % 3 === 1).select("doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def run(): Unit =
      drain(src, schema, sink, cp, timeoutMs = 120000)(
        StreamingIngest.screenPerplexityStream(_, lmIndex).toDF())

    // two crawl batches against the same stored index
    incoming.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    run()
    incoming.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    run()

    val streamed = spark.read.parquet(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val batch = KnLm
      .screenPerplexity(KnLm.docBigrams(incoming, "doc_id", toks), lmIndex, "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(streamed.map(t => (t._1, t._2, t._3)) == batch.map(t => (t._1, t._2, t._3)))
    // perplexities agree to the 4-decimal contract (summation order may
    // differ in the last ulp between the group fold and the batch agg)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(math.abs(s._4 - b._4) <= 1e-4 + 1e-9, s"doc ${s._1}: ${s._4} vs ${b._4}")
    }

    // re-crawl replay: the same docs again produce NOTHING new
    incoming.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(sink).count() == streamed.size.toLong, "re-crawled docs must be suppressed")
  }
}
