package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import graft.jobs.DailyUpdate
import graft.operators.DailyAggregate
import graft.sources._
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Main.{Ctx, Op, Outcome, rootCause}

/** `hydromet_ingest`: the nightly write path. Each op is one day cycle:
  * `DailyUpdate.run` over the store the previous cycle wrote (per-series
  * CSV station files plus shared-fetch weather stations), write the new
  * measurement store and daily table, refresh the DOY statistics, and
  * drain the day's landing batch through the streaming ingest into a
  * checkpointed sink. Cycle 0 loads the history backlog and is the
  * untimed warm-up. After each cycle the benchmark checks the cycle's
  * invariants against the counts the generator computed beforehand.
  */
object Ingest {
  final case class Series(id: Long, fx: String, agg: String, offset: Int, rateS: Long, station: String, parameter: String)
  final case class Cycle(
      dir: String,
      from: String,
      to: String,
      appended: Long,
      streamRows: Long,
      csvRecords: Long,
      changedDays: Seq[(Long, String)]
  )

  val MeasSchema = StructType(Seq(
    StructField("timeseries_id", LongType), StructField("datetime", TimestampType),
    StructField("value", DoubleType), StructField("period_seconds", LongType)))
  val StreamSchema = StructType(Seq(
    StructField("timeseries_id", LongType), StructField("datetime", TimestampType), StructField("value", DoubleType)))
  /** Late points carry values at or below this; none may reach the store. */
  val LateSentinel = -900.0

  private def parse(ic: JsonNode): (Seq[Series], Seq[Cycle]) = {
    val series = ic.get("series").elements().asScala.map { s =>
      def t(k: String) = Option(s.get(k)).map(_.asText()).getOrElse("")
      Series(s.get("id").asLong(), t("fx"), t("agg"), s.get("offset").asInt(), s.get("rate_s").asLong(), t("station"), t("parameter"))
    }.toSeq
    val cycles = ic.get("cycles").elements().asScala.map { c =>
      Cycle(
        c.get("dir").asText(), c.get("from").asText(), c.get("to").asText(),
        c.get("appended").asLong(), c.get("stream_rows").asLong(), c.get("csv_records").asLong(),
        c.get("changed_days").elements().asScala.map(d => (d.get(0).asLong(), d.get(1).asText())).toSeq
      )
    }.toSeq
    (series, cycles)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val (series, cycles) = parse(ctx.cfg.get("ingest"))
    val root = ctx.workDir.resolve("ingest")
    def dir(kind: String, k: Int) = root.resolve(f"$kind%s_$k%03d").toString
    val streamSrc = root.resolve("stream_src")
    val sink = root.resolve("stream_sink").toString
    val ckpt = root.resolve("stream_checkpoint").toString
    Files.createDirectories(streamSrc)

    val registry = new AdapterRegistry(Seq(CsvStationAdapter, StationWeatherAdapter))
    val aggTypes = series.map(s => s.id -> (s.agg, s.offset)).toMap
    val horizon = (java.sql.Timestamp.valueOf(cycles.head.from), java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))
    val corrections = Seq(
      (1L, series.head.id, horizon._1, horizon._2, "offset_linear", Option(0.25), Option.empty[Double],
        Option.empty[Long], Option.empty[String], 1)
    ).toDF("correction_id", "timeseries_id", "start_dt", "end_dt", "ctype", "value1", "value2",
      "window_seconds", "equation", "priority")

    def catalog(c: Cycle): Seq[SeriesConfig] = series.map { s =>
      if (s.fx == "csv")
        SeriesConfig(s.id, CsvStationAdapter.name, Map("path" -> s"${c.dir}/series_${s.id}.csv"),
          defaultGrade = Some("A"), recordRateSeconds = Some(s.rateS))
      else
        SeriesConfig(s.id, StationWeatherAdapter.name,
          Map("station" -> s.station, "parameter" -> s.parameter, "step_seconds" -> s.rateS.toString,
            "from" -> c.from, "to" -> c.to),
          defaultGrade = Some("A"), recordRateSeconds = Some(s.rateS))
    }

    // cycle 0 loads the backlog into an empty store
    val emptyMeas = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], MeasSchema)
    val emptyDaily = DailyAggregate(emptyMeas.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0)))
    def store(kind: String, k: Int, empty: DataFrame) = if (k == 0) empty else spark.read.parquet(dir(kind, k))

    var storeRows = 0L
    var sinkRows = 0L
    val sums = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

    /** One cycle; returns (wall ms, window, failure). */
    def cycle(k: Int, traced: Boolean): (Double, Long, Long, Option[String]) = {
      val c = cycles(k)
      Files.copy(java.nio.file.Paths.get(c.dir, "stream.parquet"), streamSrc.resolve(f"cycle_$k%03d.parquet"))
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val tr = ctx.tracer
      val attempt = try {
        val res = tr.span("jobs.update_build") {
          DailyUpdate.run(spark, catalog(c), store("measurements", k, emptyMeas),
            store("daily", k, emptyDaily), corrections, registry, aggTypes)
        }
        tr.span("jobs.store_write")(res.measurements.write.parquet(dir("measurements", k + 1)))
        tr.span("jobs.daily_write")(res.daily.write.parquet(dir("daily", k + 1)))
        tr.span("operators.doy_refresh") {
          DailyUpdate.refreshDoyStats(res.daily, res.changedRanges).write.parquet(dir("doy", k + 1))
        }
        val q = tr.span("streaming.drain") {
          val q = StreamingIngest.ingestAvailableNow(spark, streamSrc.toString, StreamSchema, sink, ckpt,
            s => StreamingIngest.dedupeByLastPoint(s).toDF())
          q.awaitTermination()
          q
        }
        Right(q)
      } catch { case NonFatal(e) => Left(rootCause(e)) }
      val wall = (System.nanoTime() - t0) / 1e6
      val s1 = System.currentTimeMillis()
      val failure = attempt match {
        case Left(err) => Some(err)
        case Right(q) =>
          val err = check(k, c)
          if (traced && err.isEmpty) {
            val progress = q.recentProgress.toSeq
            add("sources.rows_fetched", c.appended)
            // the only CSV files a cycle scans are its landing files
            val csvRead = ctx.events.map { log =>
              org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
              Layers.csvRowsIn(log, s0, s1)
            }.getOrElse(0L)
            add("sources.read_amplification", csvRead.toDouble / math.max(1L, c.csvRecords))
            add("operators.daily_rows_recomputed", c.changedDays.size)
            add("operators.doy_cells_recomputed", spark.read.parquet(dir("doy", k + 1)).count())
            add("streaming.batches", progress.count(_.numInputRows > 0))
            add("streaming.input_rows", progress.map(_.numInputRows).sum)
            add("streaming.commit_ms", progress.map { p =>
              Seq("walCommit", "commitOffsets").flatMap(n => Option(p.durationMs.get(n))).map(_.toLong).sum
            }.sum)
            progress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
              add("streaming.state_rows", s.numRowsTotal)
              add("streaming.state_mem_mb", s.memoryUsedBytes / 1e6)
            }
          }
          err
      }
      (wall, s0, s1, failure)
    }

    /** The cycle's invariants, against the generator's counts. */
    def check(k: Int, c: Cycle): Option[String] = {
      val problems = mutable.ArrayBuffer.empty[String]
      val r = spark.read.parquet(dir("measurements", k + 1))
        .agg(count(lit(1)), countDistinct(col("timeseries_id"), col("datetime")),
          sum(when(col("value") <= LateSentinel, 1L).otherwise(0L)))
        .head()
      val (rows, keys, late) = (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString.toLong).getOrElse(0L))
      if (keys != rows) problems += s"${rows - keys} duplicate (timeseries_id, datetime) keys in the store"
      if (rows != storeRows + c.appended) problems += s"store has $rows rows, expected ${storeRows + c.appended}"
      if (late != 0) problems += s"$late late points reached the store"
      storeRows = rows
      val sinkNow = spark.read.parquet(sink).count()
      if (sinkNow - sinkRows != c.streamRows) problems += s"sink gained ${sinkNow - sinkRows} rows, expected ${c.streamRows}"
      sinkRows = sinkNow
      val daily = spark.read.parquet(dir("daily", k + 1))
      val d = daily.agg(count(lit(1)), countDistinct(col("timeseries_id"), col("date"))).head()
      if (d.getLong(0) != d.getLong(1)) problems += s"${d.getLong(0) - d.getLong(1)} duplicate daily rows"
      val changed = c.changedDays.toDF("timeseries_id", "date").withColumn("date", to_date(col("date")))
      val present = daily.join(changed, Seq("timeseries_id", "date")).count()
      if (present != c.changedDays.size) problems += s"$present daily rows for ${c.changedDays.size} changed local days"
      if (problems.isEmpty) None else Some("invariant failed: " + problems.mkString("; "))
    }

    val (warmWall, _, _, warmFail) = cycle(0, traced = false)
    warmFail.foreach(f => ctx.log(s"warm-up cycle failed: $f"))

    val ops = mutable.ArrayBuffer.empty[Op]
    val windows = mutable.ArrayBuffer.empty[OpWindow]
    var work = 0L
    var k = 1
    // at least two timed cycles: the first is the slowest, and alone it
    // would make the median a single sample whenever it outlasts `seconds`
    while (k < cycles.size && (k <= 2 || ops.map(_.wallMs).sum / 1e3 < ctx.seconds) && warmFail.isEmpty) {
      ctx.tracer.op = ops.size
      val (wall, s0, s1, fail) = cycle(k, ctx.tracer.enabled)
      fail.foreach(f => ctx.log(s"cycle $k failed: $f"))
      windows += OpWindow(ops.size, s0, s1, wall)
      ops += Op(s"cycle_$k", wall, fail.isEmpty, fail.getOrElse(""))
      if (fail.isEmpty) work += cycles(k).appended
      k += 1
      // a failed cycle leaves no store for the next one
      if (fail.nonEmpty) k = cycles.size
    }
    ctx.tracer.op = -1
    if (ops.isEmpty) ops += Op("cycle_1", warmWall, ok = false, s"warm-up cycle failed: ${warmFail.getOrElse("")}")
    val n = math.max(1, ops.size)
    Outcome(ops.toSeq, ops.map(_.wallMs).toSeq, windows.toSeq, work.toDouble, ops.map(_.wallMs).sum / 1e3, warmWall / 1e3,
      warmFail.toSeq, sums.map { case (key, v) => key -> v / n }.toMap)
  }
}
