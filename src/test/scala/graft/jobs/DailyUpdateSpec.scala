package graft.jobs

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.operators.DailyAggregate
import graft.sources.{AdapterRegistry, Adapters, CsvStationAdapter, FileTransport, SeriesConfig, Transport}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.util.LongAccumulator

import scala.jdk.CollectionConverters._

/** The fixture file transport, counting every record it hands out. */
final class CountingTransport(records: LongAccumulator) extends Transport {
  override def bytes(url: String): Array[Byte] = FileTransport.bytes(url)

  override def rows(spark: SparkSession, locator: String, format: String, options: Map[String, String],
      schema: Option[StructType]): DataFrame = {
    val seen = udf(() => { records.add(1L); true }).asNondeterministic()
    FileTransport.rows(spark, locator, format, options, schema).filter(seen())
  }
}

/** NOTE on the "No Partition Defined for Window" WARNs this suite
  * logs: the fixture's single series carries a LITERAL timeseries_id,
  * and Catalyst folds the constant out of the window partition spec
  * (Segments/SegmentAlgebra windows), leaving an unpartitioned window
  * in the TEST plan only. With real multi-series frames the partition
  * column is non-foldable and survives — verified by plan inspection;
  * no production path windows without a partition key.
  */
class DailyUpdateSpec extends SparkSpec {

  /** An empty correction dimension. */
  private def noCorrections: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, String, Option[Double], Option[Double], Option[Long], Option[String], Int)]
      .toDF("correction_id", "timeseries_id", "start_dt", "end_dt", "ctype", "value1", "value2", "window_seconds", "equation", "priority")
  }

  test("end-to-end: fetch -> upsert -> correct -> incremental daily refresh") {
    import spark.implicits._
    val cfg = SeriesConfig(
      timeseriesId = 1L,
      sourceFx = "downloadSynthetic",
      args = Map(
        "series" -> "water_level",
        "step_seconds" -> "3600",
        "from" -> "2023-01-01 00:00:00",
        "to" -> "2023-01-05 00:00:00"
      )
    )
    // store already holds the first two days
    val existing = SeriesConfig(
      1L, "downloadSynthetic",
      cfg.args.updated("to", "2023-01-03 00:00:00")
    )
    val initial = graft.sources.SyntheticAdapter
      .fetch(spark, existing, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))
      .withColumn("timeseries_id", lit(1L))
      .select("timeseries_id", "datetime", "value", "period_seconds")
    val dailyBase = DailyAggregate(
      initial.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0))
    )

    val result = DailyUpdate.run(
      spark,
      Seq(cfg),
      initial,
      dailyBase,
      noCorrections,
      Adapters.default,
      aggTypes = Map(1L -> ("mean", 0))
    )
    assert(result.appended.count() == 48L) // Jan 3 + Jan 4
    assert(result.measurements.count() == 96L)
    assert(result.daily.count() == 4L)
    // refreshed daily equals a from-scratch daily over the full store
    val full = DailyAggregate(
      result.measurements.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0))
    )
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getDate(1).toString, r.getDouble(3))
    assert(result.daily.collect().map(key).toSet == full.collect().map(key).toSet)
    // DOY stats over the touched scope runs and returns the changed days
    val doy = DailyUpdate.refreshDoyStats(result.daily, result.changedRanges)
    assert(doy.count() >= 2L)
  }

  /** The i-th hour from 2023-01-01 00:00 (session time zone). */
  private def hour(i: Int): String =
    java.time.LocalDateTime.of(2023, 1, 1, 0, 0).plusHours(i.toLong).toString.replace('T', ' ') + ":00"

  /** Hourly landing CSV over 2023-01-01..03 (72 records). */
  private def writeCsv(path: Path, value: Int => Double): Unit = {
    val lines = (0 until 72).map(i => s"${hour(i)},${value(i)},,provisional")
    Files.write(path, ("datetime,value,qualifier_code,approval_label" +: lines).mkString("\n").getBytes("UTF-8"))
  }

  private def hourly(i: Int): Double = 10.0 + (i % 24) * 0.25

  /** A nightly run over one CSV series whose store already holds
    * 2023-01-01, so the batch is the 48 rows of Jan 2 and Jan 3.
    */
  private def csvRun(csv: Path, transport: Transport): DailyUpdate.Result = {
    import spark.implicits._
    val store = (0 until 24)
      .map(i => (1L, hour(i), hourly(i), 3600L))
      .toDF("timeseries_id", "datetime", "value", "period_seconds")
      .withColumn("datetime", to_timestamp(col("datetime")))
    val dailyBase = DailyAggregate(store.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0)))
    val cfg = SeriesConfig(1L, CsvStationAdapter.name, Map("path" -> csv.toString),
      defaultGrade = Some("A"), recordRateSeconds = Some(3600L))
    DailyUpdate.run(spark, Seq(cfg), store, dailyBase, noCorrections,
      new AdapterRegistry(Seq(new CsvStationAdapter(transport))), aggTypes = Map(1L -> ("mean", 0)))
  }

  /** The nightly writes: store, daily table, DOY statistics. */
  private def writeAll(r: DailyUpdate.Result, dir: Path): Unit = {
    r.measurements.write.parquet(dir.resolve("measurements").toString)
    r.daily.write.parquet(dir.resolve("daily").toString)
    DailyUpdate.refreshDoyStats(r.daily, r.changedRanges).write.parquet(dir.resolve("doy").toString)
  }

  test("guard: the store, daily and DOY writes read the landing CSV exactly once") {
    val dir = Files.createTempDirectory("daily-update-once")
    val csv = dir.resolve("series_1.csv")
    writeCsv(csv, hourly)
    val records = spark.sparkContext.longAccumulator("landing_csv_records")
    writeAll(csvRun(csv, new CountingTransport(records)), dir)
    assert(spark.read.parquet(dir.resolve("measurements").toString).count() == 72L)
    assert(records.value == 72L, s"the 72-record landing CSV was read ${records.value / 72.0} times")
  }

  test("snapshot: the writes reflect the batch run fetched, not a later landing file") {
    val dir = Files.createTempDirectory("daily-update-snapshot")
    val csv = dir.resolve("series_1.csv")
    writeCsv(csv, hourly)
    val r = csvRun(csv, FileTransport)
    writeCsv(csv, _ => 999.0) // the landing file changes after run returns
    writeAll(r, dir)

    val stored = spark.read.parquet(dir.resolve("measurements").toString)
    val values = stored.select("value").collect().map(_.getDouble(0))
    assert(values.length == 72 && !values.contains(999.0), "the store must hold the batch run saw")
    val daily = spark.read.parquet(dir.resolve("daily").toString)
    val full = DailyAggregate(stored.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0)))
    val key = (r: Row) => (r.getAs[Long]("timeseries_id"), r.getAs[java.sql.Date]("date").toString,
      r.getAs[Double]("value"), r.getAs[Long]("n"))
    val changedDays = Set("2023-01-02", "2023-01-03")
    val dailyRows = daily.collect().map(key).toSet
    assert(dailyRows.map(_._2) == changedDays + "2023-01-01")
    assert(dailyRows.filter(k => changedDays(k._2)) == full.collect().map(key).filter(k => changedDays(k._2)).toSet,
      "every changed day's daily row must aggregate the stored rows")
    val doy = spark.read.parquet(dir.resolve("doy").toString).collect().toSet
    assert(doy.nonEmpty)
    assert(doy == DailyUpdate.refreshDoyStats(daily, r.changedRanges).collect().toSet,
      "the DOY statistics must come from the written daily table")
  }

  /** Jobs one nightly run may launch: measured 12 on a 4-core host.
    * The previous shape (two lazy last-point aggregates, CSV header
    * inference, broadcast code maps, a correction table read three
    * times) launched 23 over 2 CSV series and 30 over 8.
    */
  private val RunJobBudget = 12

  /** The description of every job one `DailyUpdate.run` over `n` CSV
    * series launches, with the store, the daily table and the
    * corrections read from parquet (their schema reads come first and
    * are not counted).
    */
  private def runJobDescriptions(n: Int): Seq[String] = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"daily-update-jobs-$n")
    val ids = (1 to n).map(_.toLong)
    ids.foreach(id => writeCsv(dir.resolve(s"series_$id.csv"), hourly))
    val store = ids
      .flatMap(id => (0 until 24).map(i => (id, hour(i), hourly(i), 3600L)))
      .toDF("timeseries_id", "datetime", "value", "period_seconds")
      .withColumn("datetime", to_timestamp(col("datetime")))
    store.write.parquet(dir.resolve("store").toString)
    DailyAggregate(store.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0)))
      .write.parquet(dir.resolve("daily").toString)
    Seq((1L, 1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), java.sql.Timestamp.valueOf("2100-01-01 00:00:00"),
      "offset_linear", Option(0.25), Option.empty[Double], Option.empty[Long], Option.empty[String], 1))
      .toDF("correction_id", "timeseries_id", "start_dt", "end_dt", "ctype", "value1", "value2", "window_seconds",
        "equation", "priority")
      .write.parquet(dir.resolve("corrections").toString)
    def read(name: String) = spark.read.parquet(dir.resolve(name).toString)
    val (measurements, dailyBase, corrections) = (read("store"), read("daily"), read("corrections"))
    val catalog = ids.map(id => SeriesConfig(id, CsvStationAdapter.name,
      Map("path" -> dir.resolve(s"series_$id.csv").toString), defaultGrade = Some("A"), recordRateSeconds = Some(3600L)))

    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?"))
    }
    val sc = spark.sparkContext
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    val result =
      try {
        val r = DailyUpdate.run(spark, catalog, measurements, dailyBase, corrections, Adapters.default,
          aggTypes = ids.map(_ -> ("mean", 0)).toMap)
        ListenerBusAccess.drain(sc)
        assert(sc.getLocalProperty("spark.job.description") == "caller", "run must restore the caller's description")
        r
      } finally {
        sc.removeSparkListener(listener)
        sc.setJobDescription(null)
      }
    assert(result.appended.count() == 48L * n)
    assert(result.corrected.filter(col("corrected") =!= col("value")).count() == 72L, "series 1 is corrected")
    descriptions.asScala.toSeq
  }

  test("job budget: one run launches a fixed number of labelled jobs, whatever the number of series") {
    val two = runJobDescriptions(2)
    val eight = runJobDescriptions(8)
    info(s"2 CSV series: ${two.size} jobs ${two.groupBy(identity).view.mapValues(_.size).toMap}; 8: ${eight.size} jobs")
    assert(two.size == eight.size, s"jobs grow with the series: ${two.size} for 2, ${eight.size} for 8")
    assert(eight.size <= RunJobBudget, s"one run launched ${eight.size} jobs, budget $RunJobBudget")
    val phases = Set("DailyUpdate › fetch", "DailyUpdate › refresh")
    assert((two ++ eight).forall(phases), s"every job carries its phase: ${(two ++ eight).filterNot(phases).distinct}")
    assert(phases.forall(eight.contains), "both phases launch jobs")
  }

  test("QC adjust step: batch grades become reconciled segments in the store") {
    import spark.implicits._
    val cfg = SeriesConfig(
      timeseriesId = 1L,
      sourceFx = "downloadSynthetic",
      args = Map(
        "series" -> "water_level",
        "step_seconds" -> "3600",
        "from" -> "2023-01-01 00:00:00",
        "to" -> "2023-01-02 00:00:00"
      ),
      defaultGrade = Some("B")
    )
    val empty = Seq.empty[(Long, java.sql.Timestamp, Double, Long)]
      .toDF("timeseries_id", "datetime", "value", "period_seconds")
    val dailyBase = DailyAggregate(
      empty.withColumn("agg_type", lit("mean")).withColumn("offset_hours", lit(0))
    )
    // existing store: grade 'A' over the first half of the day
    val store = Seq(
      (1L, "grade", 10L, "A", "2023-01-01 00:00:00", "2023-01-01 12:00:00")
    ).toDF("series_id", "stream", "id", "value", "start_s", "end_s")
      .withColumn("start_dt", to_timestamp(col("start_s")))
      .withColumn("end_dt", to_timestamp(col("end_s")))
      .drop("start_s", "end_s")
    val result = DailyUpdate.run(
      spark, Seq(cfg), empty, dailyBase, noCorrections, Adapters.default,
      aggTypes = Map(1L -> ("mean", 0)), qcSegments = Some(store)
    )
    val qc = result.qcChanges.get.collect()
    assert(qc.nonEmpty, "default grade B over the batch window must replace/extend grade A")
    val upserts = qc.filter(_.getString(qc.head.fieldIndex("op")) == "upsert")
    val grades = upserts.filter(_.getString(1) == "grade").map(r => r.getString(3)).toSet
    assert(grades == Set("B"), s"new wins over old: $grades")
  }

  test("media legs: image watermark round + raster merge round advance both catalogs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val imageCatalog = Seq(
      (1L, Some(ts("2024-01-01 00:00:00")), true)
    ).toDF("img_series_id", "last_img", "active")
    val fetchedImages = Seq(
      (1L, ts("2024-01-01 06:00:00"), "new".getBytes("UTF-8"), "jpg"),
      (1L, ts("2023-12-31 06:00:00"), "old".getBytes("UTF-8"), "jpg") // behind watermark
    ).toDF("img_series_id", "img_ts", "payload", "format")
    val existingImages = Seq.empty[(Long, java.sql.Timestamp)]
      .toDF("img_series_id", "img_ts")

    val rasterCatalog = Seq(
      (5L, "forecast", ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 00:00:00")), true)
    ).toDF("raster_series_id", "raster_type", "end_datetime", "last_issue", "active")
    def tile(issue: String, valid: String) =
      (5L, "b1", "forecast", ts(issue), ts(valid), 0, 0)
    val existingTiles = Seq(tile("2024-01-01 00:00:00", "2024-01-02 00:00:00"))
      .toDF("series_id", "band", "raster_type", "issue_ts", "valid_ts", "tile_x", "tile_y")
    val fetchedTiles = Seq(tile("2024-01-01 12:00:00", "2024-01-02 00:00:00"))
      .toDF("series_id", "band", "raster_type", "issue_ts", "valid_ts", "tile_x", "tile_y")

    val out = DailyUpdate.runMedia(
      imageCatalog, fetchedImages, existingImages,
      rasterCatalog, existingTiles, fetchedTiles)

    assert(out.newImages.count() == 1) // watermark filtered the old frame
    assert(out.imageCatalog.head().getAs[java.sql.Timestamp]("last_img") ==
      ts("2024-01-01 06:00:00"))
    // the newer forecast issue superseded the old one for the shared valid
    val kept = out.mergedTiles.select("issue_ts").collect().map(_.getTimestamp(0)).toSet
    assert(kept == Set(ts("2024-01-01 12:00:00")))
    val cat = out.rasterCatalog.head()
    assert(cat.getAs[java.sql.Timestamp]("end_datetime") == ts("2024-01-02 00:00:00"))
    assert(cat.getAs[java.sql.Timestamp]("last_issue") == ts("2024-01-01 12:00:00"))
  }
}
