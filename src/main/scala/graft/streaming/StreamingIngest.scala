package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming face of the incremental ingest: the reference
  * is batch-polling (daily cron, `R/dailyUpdate.R:5`), so streams run
  * with `Trigger.AvailableNow` — drain whatever landed, then stop;
  * late/changed data is the synchronize path's job, not event-time
  * watermarking (SURVEY §1.3/§2.10). A watermarked tumbling-window
  * aggregation is provided for the streaming-native daily rollup.
  */
object StreamingIngest {

  /** File-watch ingest: new files under `srcDir` stream through the
    * canonical projection into parquet under `sinkDir`, exactly-once
    * via the checkpoint. Returns the started query (AvailableNow:
    * terminates once the backlog drains).
    */
  def ingestAvailableNow(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      transform: DataFrame => DataFrame = identity
  ): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    transform(stream).writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .start()
  }

  /** One canonical streaming measurement row. */
  final case class Meas(timeseries_id: Long, datetime: java.sql.Timestamp, value: Double)

  /** Cross-batch stateful dedupe: the per-series last-point watermark
    * held as STREAM state (`flatMapGroupsWithState`) — rows at or
    * before the last emitted datetime of their series are dropped,
    * the streaming twin of the batch ingest's strictly-after-last
    * guard (SURVEY §2.10). State per series is a single long.
    */
  def dedupeByLastPoint(stream: DataFrame): org.apache.spark.sql.Dataset[Meas] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream
      .as[Meas]
      .groupByKey(_.timeseries_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Meas], state: GroupState[Long]) =>
          val last = state.getOption.getOrElse(Long.MinValue)
          val fresh = rows.filter(_.datetime.getTime > last).toSeq.sortBy(_.datetime.getTime)
          if (fresh.nonEmpty) state.update(fresh.map(_.datetime.getTime).max.max(last))
          fresh.iterator
      }
  }

  /** One streamed raster-tile index row. */
  final case class TileRow(
      series_id: Long,
      band: String,
      valid_ts: java.sql.Timestamp,
      tile_x: Int,
      tile_y: Int,
      issue_ts: java.sql.Timestamp
  )

  /** Streaming `keep_forecasts = 'selective'`: per (series, band,
    * valid, tile) the state holds the newest issue seen; a row is
    * emitted only when it IMPROVES on the state (newer issue), so the
    * downstream tile store applies last-write-wins per key and always
    * converges to the batch `Raster.supersedeForecasts` result. State
    * per key is a single epoch-micros long.
    */
  def supersedeForecastsStream(stream: DataFrame): org.apache.spark.sql.Dataset[TileRow] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream
      .as[TileRow]
      .groupByKey(t => (t.series_id, t.band, t.valid_ts.getTime, t.tile_x, t.tile_y))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String, Long, Int, Int), rows: Iterator[TileRow], state: GroupState[Long]) =>
          val last = state.getOption.getOrElse(Long.MinValue)
          val newestFirst = rows.toSeq.sortBy(-_.issue_ts.getTime)
          newestFirst.headOption.filter(_.issue_ts.getTime > last) match {
            case Some(win) =>
              state.update(win.issue_ts.getTime)
              Iterator.single(win)
            case None => Iterator.empty
          }
      }
  }

  /** One streamed document row (fingerprint = the portable 56-bit
    * normalized-content hash, computed upstream at scan time).
    */
  final case class Doc(doc_id: Long, fingerprint: Long)

  /** Streaming corpus dedup: the cross-batch face of exact/fingerprint
    * deduplication — the FIRST doc carrying a fingerprint is emitted
    * (ties within a micro-batch break toward the lower doc_id), every
    * later arrival is dropped. State per fingerprint is one long (the
    * canonical doc_id), sharded by the fingerprint key — the streaming
    * twin of `ml.Dedup`'s batch hash-groupBy, for continuous crawl
    * ingestion where re-running batch dedup over the full corpus per
    * increment would rescan everything.
    */
  def dedupeByFingerprint(stream: DataFrame): org.apache.spark.sql.Dataset[Doc] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream
      .as[Doc]
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Doc], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_.doc_id)
            state.update(first.doc_id)
            Iterator.single(first)
          }
      }
  }

  /** One streamed (doc, line) row — line_hash is the portable 56-bit
    * content hash of the line, computed upstream at scan time.
    */
  final case class DocLine(doc_id: Long, line_hash: Long)

  /** A newly-boilerplate line: the hash plus the distinct-doc count
    * that crossed the threshold.
    */
  final case class BoilerplateLine(line_hash: Long, line_df: Long)

  /** Streaming boilerplate detection: the cross-batch face of
    * [[graft.ml.FineDedup.frequentLines]] — tracks how many DISTINCT
    * documents each line hash has appeared in and emits the hash once,
    * in the micro-batch where its document frequency crosses
    * `minDocs`. Downstream, the emitted set is the broadcast blocklist
    * the batch strip pass anti-joins against; continuously maintaining
    * it this way means a growing crawl never recounts history.
    *
    * State per line hash is (df, a bounded recent-doc set for
    * within-threshold exactness): once df >= minDocs the doc set is
    * dropped and the state collapses to a "already emitted" marker —
    * boilerplate lines (the hot keys!) carry O(1) state, so state size
    * is bounded by the sub-threshold tail, not by line popularity.
    */
  def detectBoilerplate(
      stream: DataFrame,
      minDocs: Int
  ): org.apache.spark.sql.Dataset[BoilerplateLine] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(minDocs >= 2)
    stream
      .as[DocLine]
      .groupByKey(_.line_hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: Long, rows: Iterator[DocLine], state: GroupState[Set[Long]]) =>
          // sentinel: the EMPTY set means "already emitted — drop
          // everything" (a live accumulation set always has >=1 doc)
          state.getOption match {
            case Some(s) if s.isEmpty => Iterator.empty
            case prev =>
              val seen = prev.getOrElse(Set.empty[Long]) ++ rows.map(_.doc_id)
              if (seen.size >= minDocs) {
                state.update(Set.empty[Long])
                Iterator.single(BoilerplateLine(hash, seen.size.toLong))
              } else {
                state.update(seen)
                Iterator.empty
              }
          }
      }
  }

  /** One streamed incoming doc for near-dup screening — the simhash
    * is computed upstream at scan time ([[graft.ml.Dedup.simHash]],
    * the family of the oracle-checked batch twin), same convention as
    * [[dedupeByFingerprint]]'s precomputed fingerprint.
    */
  final case class SimDoc(doc_id: Long, simhash: Long)

  /** Per-incoming-doc screening verdict — [[graft.ml.Dedup.simHashScreen]]'s
    * output contract.
    */
  final case class ScreenResult(doc_id: Long, is_dup: Boolean, dup_of: Option[Long], hamming: Option[Int])

  /** Streaming near-dup screen against a PERSISTED corpus band index
    * ([[graft.ml.Dedup.buildBandIndex]]) — the continuous-crawl face
    * of the batch `simHashScreen`: each micro-batch's docs explode
    * into 7x8-bit band keys map-side and probe the index via a
    * stream-STATIC left join (stateless — corpus vectors never enter
    * streaming state), then one emit-once state bit per doc picks the
    * closest match within `maxHamming` (ties toward the lower corpus
    * id) and suppresses re-crawled doc_ids across batches. State is
    * one boolean per doc ever seen; the index side stays where it was
    * written.
    */
  def screenAgainstBandIndex(
      stream: DataFrame,
      bandIndex: DataFrame,
      maxHamming: Int = 6,
      nBands: Int = 7
  ): org.apache.spark.sql.Dataset[ScreenResult] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(
      maxHamming < nBands,
      s"$nBands-band banding guarantees recall only to Hamming ${nBands - 1}"
    )
    // must match the layout the index was built with (Dedup.bandSpec)
    val bandCols = graft.ml.Dedup.bandSpec(nBands).zipWithIndex.map { case ((off, width), b) =>
      struct(
        lit(b).as("band"),
        shiftright(col("simhash"), off).bitwiseAND((1L << width) - 1L).as("bv")
      )
    }
    val banded = stream
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bv").as("bv"))
    // sentinel-encoded candidates (no Option boxing): misses carry
    // (MaxValue, MaxValue) and lose every min comparison
    val probed = banded
      .join(bandIndex, Seq("band", "bv"), "left")
      .withColumn("h", bit_count(col("simhash").bitwiseXOR(col("ex_h"))).cast("int"))
      .select(
        col("doc_id"),
        coalesce(when(col("h") <= maxHamming, col("ex_id")), lit(Long.MaxValue)).as("cand_id"),
        coalesce(when(col("h") <= maxHamming, col("h")), lit(Int.MaxValue)).as("cand_h")
      )
      .as[(Long, Long, Int)]
    // Per-partition partial reduce BEFORE the stateful shuffle: the
    // probe join multiplies stream rows by per-bucket index occupancy
    // (n/buckets — at 10x the gate corpus that is ~900 index rows per
    // (band, bv) key, tens of millions of joined rows), and dragging
    // them all through the groupByKey encoder + state shuffle measured
    // ~1 ms/row. The fold to one best (h, ex_id) per doc is the same
    // min the group function applies — narrow, codegen-adjacent, and
    // the state operator then sees at most partitions x docs rows.
    val reduced = probed.mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      val best = new java.util.HashMap[Long, (Int, Long)]()
      it.foreach { case (id, cid, h) =>
        val cur = best.get(id)
        if (cur == null || h < cur._1 || (h == cur._1 && cid < cur._2)) best.put(id, (h, cid))
      }
      best.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue._2, e.getValue._1))
    }
    reduced
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[(Long, Long, Int)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // re-crawl: first batch won
          else {
            state.update(true)
            val (_, e, h) = rows.minBy(r => (r._3, r._2)) // (hamming, ex_id): lower id breaks ties
            if (h == Int.MaxValue) Iterator.single(ScreenResult(id, is_dup = false, None, None))
            else Iterator.single(ScreenResult(id, is_dup = true, Some(e), Some(h)))
          }
      }
  }

  final case class LmScreenResult(
      doc_id: Long,
      n_bigrams: Long,
      n_unseen: Long,
      ppl: Double
  )

  /** Streaming face of [[graft.ml.KnLm.screenPerplexity]]: incoming
    * docs (doc_id, text) score against a parquet-persisted
    * [[graft.ml.KnLm.buildLmIndex]] as they land. Tokenize + bigram
    * explode are map-side projections; the model/λ/Pcont probes are
    * stream-STATIC left joins (stateless — the index never enters
    * streaming state); one emit-once state bit per doc computes the
    * perplexity from that doc's joined rows and suppresses re-crawled
    * doc_ids across batches. Docs with < 2 tokens produce no bigram
    * rows and are absent from the output, matching the batch twin.
    */
  def screenPerplexityStream(
      stream: DataFrame,
      lmIndex: DataFrame
  ): org.apache.spark.sql.Dataset[LmScreenResult] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val big = lmIndex.filter(col("kind") === "big").select(col("w1"), col("w2"), col("v").as("logp_hit"))
    val lam = lmIndex.filter(col("kind") === "ctx").select(col("w1"), col("v").as("lam"))
    val pc = lmIndex.filter(col("kind") === "cont").select(col("w2"), col("v").as("pcont"))
    val floorP = lmIndex.filter(col("kind") === "meta").select(col("v")).head().getDouble(0)
    val scored = graft.ml.KnLm
      .docBigrams(stream, "doc_id", graft.ml.TextStats.tokens(col("text")))
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(lam), Seq("w1"), "left")
      .join(broadcast(pc), Seq("w2"), "left")
      .select(
        col("doc_id"),
        when(col("logp_hit").isNotNull, col("logp_hit"))
          .when(col("lam").isNotNull && col("pcont").isNotNull, log(col("lam") * col("pcont")))
          .when(col("pcont").isNotNull, log(col("pcont")))
          .otherwise(log(lit(floorP)))
          .as("logp"),
        col("logp_hit").isNull.as("unseen")
      )
      .as[(Long, Double, Boolean)]
    scored
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[(Long, Double, Boolean)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // re-crawl: first batch won
          else {
            state.update(true)
            val rs = rows.toSeq
            val ppl = math.exp(-rs.map(_._2).sum / rs.size)
            val rounded = BigDecimal(ppl).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            Iterator.single(LmScreenResult(id, rs.size.toLong, rs.count(_._3).toLong, rounded))
          }
      }
  }

  /** Watermarked tumbling daily mean per series over a streaming
    * frame with (timeseries_id, datetime, value).
    */
  def windowedDaily(stream: DataFrame, watermark: String = "2 days"): DataFrame =
    stream
      .withWatermark("datetime", watermark)
      .groupBy(col("timeseries_id"), window(col("datetime"), "1 day").as("day"))
      .agg(avg(col("value")).as("value"), count(lit(1)).as("n"))
      .select(
        col("timeseries_id"),
        col("day.start").as("date_start"),
        col("value"),
        col("n")
      )
}
