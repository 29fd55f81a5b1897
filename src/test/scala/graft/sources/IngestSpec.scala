package graft.sources

import graft.SparkSpec
import graft.operators.{DailyAggregate, IncrementalDaily}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class IngestSpec extends SparkSpec {

  private val synthCfg = SeriesConfig(
    timeseriesId = 1L,
    sourceFx = "downloadSynthetic",
    args = Map(
      "series" -> "water_level",
      "step_seconds" -> "3600",
      "from" -> "2023-01-01 00:00:00",
      "to" -> "2023-01-03 00:00:00"
    ),
    defaultGrade = Some("A"),
    recordRateSeconds = Some(3600L)
  )

  test("SyntheticAdapter reproduces the reference fixture formula") {
    val df = SyntheticAdapter
      .fetch(spark, synthCfg, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))
    assert(df.count() == 48)
    val first = df.orderBy("datetime").select("value").head().getDouble(0)
    val epoch = java.sql.Timestamp.valueOf("2023-01-01 00:00:00").getTime / 1000.0
    val expected = BigDecimal(10.0 + math.sin(epoch / 86400.0) * 0.25)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(first - expected) < 1e-9)
  }

  test("IncrementalIngest appends only rows after each series' last point, with defaults") {
    import spark.implicits._
    val existing = Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-02 00:00:00"), 10.0)
    ).toDF("timeseries_id", "datetime", "value")
    val out = IncrementalIngest
      .getNewContinuous(spark, Seq(synthCfg), existing, Adapters.default)
    val dts = out.select(min("datetime"), max("datetime"), count(lit(1))).head()
    assert(dts.getTimestamp(0).toString == "2023-01-02 01:00:00.0") // strictly after last
    assert(dts.getLong(2) == 23L)
    assert(out.select("grade").distinct().collect().map(_.getString(0)).toList == List("A"))
    // a fresh series (no rows yet) backfills from the adapter's start
    val fresh = IncrementalIngest.getNewContinuous(
      spark, Seq(synthCfg), existing.filter(lit(false)), Adapters.default)
    assert(fresh.count() == 48)
  }

  test("SharedFetchAdapter: one fetch per cache group, per-series extraction") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    object CountingWeather extends SharedFetchAdapter {
      override val name = "downloadStationWeather"
      override def cacheKey(cfg: SeriesConfig) = StationWeatherAdapter.cacheKey(cfg)
      override def fetchShared(s: org.apache.spark.sql.SparkSession, g: Seq[SeriesConfig], t: java.sql.Timestamp) = {
        counter.incrementAndGet()
        StationWeatherAdapter.fetchShared(s, g, t)
      }
      override def extract(shared: org.apache.spark.sql.DataFrame, cfg: SeriesConfig) =
        StationWeatherAdapter.extract(shared, cfg)
    }
    def cfg(id: Long, station: String, param: String) = SeriesConfig(
      id, "downloadStationWeather",
      Map("station" -> station, "parameter" -> param,
        "from" -> "2023-01-01 00:00:00", "to" -> "2023-01-02 00:00:00")
    )
    // 3 parameters of station A + 1 of station B = 2 cache groups
    val catalog = Seq(
      cfg(11L, "A", "temp_c"), cfg(12L, "A", "rh_pct"), cfg(13L, "A", "wind_kmh"),
      cfg(14L, "B", "temp_c")
    )
    val out = IncrementalIngest.getNewContinuous(
      spark, catalog, spark.emptyDataFrame.withColumn("timeseries_id", lit(0L))
        .withColumn("datetime", lit(null).cast("timestamp")).limit(0),
      new AdapterRegistry(Seq(CountingWeather))
    )
    assert(out.select("timeseries_id").distinct().count() == 4)
    assert(out.count() == 4 * 24)
    assert(counter.get() == 2, s"one fetchShared per cache group, got ${counter.get()}")
    // station A's three series carry the same datetimes, different values
    val a = out.filter(col("timeseries_id").isin(11L, 12L, 13L))
    assert(a.select("datetime").distinct().count() == 24)
  }

  test("shared fetch: one fetch from the earliest last point, each member guarded by its own") {
    import spark.implicits._
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[java.sql.Timestamp]
    object RecordingWeather extends SharedFetchAdapter {
      override val name = StationWeatherAdapter.name
      override def cacheKey(cfg: SeriesConfig) = StationWeatherAdapter.cacheKey(cfg)
      override def fetchShared(s: org.apache.spark.sql.SparkSession, g: Seq[SeriesConfig], t: java.sql.Timestamp) = {
        starts.add(t)
        StationWeatherAdapter.fetchShared(s, g, t)
      }
      override def extract(shared: org.apache.spark.sql.DataFrame, cfg: SeriesConfig) =
        StationWeatherAdapter.extract(shared, cfg)
    }
    def cfg(id: Long, param: String) = SeriesConfig(id, StationWeatherAdapter.name,
      Map("station" -> "A", "parameter" -> param, "from" -> "2023-01-01 00:00:00", "to" -> "2023-01-02 00:00:00"))
    // hourly points; the earliest last point carries sub-second microseconds
    val lastPoints = Seq(
      (11L, "2023-01-01 03:00:00.123456"),
      (12L, "2023-01-01 10:00:00"),
      (13L, "2023-01-01 20:00:00")
    )
    val store = lastPoints.toDF("timeseries_id", "datetime").withColumn("datetime", to_timestamp(col("datetime")))
    val out = IncrementalIngest
      .getNewContinuous(spark, Seq(cfg(11L, "temp_c"), cfg(12L, "rh_pct"), cfg(13L, "wind_kmh")), store,
        new AdapterRegistry(Seq(RecordingWeather)))
      .groupBy("timeseries_id")
      .agg(min("datetime"), count(lit(1)))
      .as[(Long, java.sql.Timestamp, Long)]
      .collect()
      .sortBy(_._1)
      .toSeq
    val hour = (h: Int) => java.sql.Timestamp.valueOf(f"2023-01-01 $h%02d:00:00")
    assert(out == Seq((11L, hour(4), 20L), (12L, hour(11), 13L), (13L, hour(21), 3L)),
      "each member gets exactly its rows after its own last point")
    assert(starts.asScala.toSeq == Seq(java.sql.Timestamp.valueOf("2023-01-01 03:00:01.123")),
      "one group fetch from the earliest last point, truncated to ms, plus 1 s")
  }

  /** A station CSV with the given header line and two records. */
  private def stationCsv(header: String): String = {
    val path = java.nio.file.Files.createTempDirectory("csvschema").resolve("station.csv")
    java.nio.file.Files.write(path, Seq(header, "2023-01-01 00:00:00,1.5,,final", "2023-01-01 01:00:00,2.5,77,provisional")
      .mkString("\n").getBytes("UTF-8"))
    path.toString
  }

  private def fetchCsv(path: String) =
    CsvStationAdapter
      .fetch(spark, SeriesConfig(2L, CsvStationAdapter.name, Map("path" -> path)), java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))
      .orderBy("datetime")
      .collect()

  test("CsvStationAdapter: empty and unmapped qualifier codes give NULL") {
    val out = fetchCsv(stationCsv("datetime,value,qualifier_code,approval_label"))
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(1.5, 2.5))
    assert(out.map(_.getAs[String]("qualifier")).toSeq == Seq(null, null))
    assert(out.map(_.getAs[String]("approval")).toSeq == Seq("A", "P"))
  }

  test("CsvStationAdapter: a header with swapped or renamed columns fails instead of misplacing values") {
    Seq("datetime,value,approval_label,qualifier_code", "datetime,level,qualifier_code,approval_label").foreach { header =>
      val e = intercept[Exception](fetchCsv(stationCsv(header)))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("CSV header does not conform to the schema")), s"$header: $e")
    }
  }

  test("CsvStationAdapter maps WSC-style qualifier and bilingual approval codes") {
    val dir = java.nio.file.Files.createTempDirectory("csvadapter").toString
    val csv = new java.io.PrintWriter(s"$dir/station.csv")
    csv.println("datetime,value,qualifier_code,approval_label")
    csv.println("2023-01-01 00:00:00,1.5,10,Final")
    csv.println("2023-01-01 01:00:00,2.5,20,Provisoire")
    csv.println("2023-01-01 02:00:00,,30,Final") // NA value dropped
    csv.close()
    val cfg = SeriesConfig(2L, "downloadCsvStation", Map("path" -> s"$dir/station.csv"))
    val out = CsvStationAdapter
      .fetch(spark, cfg, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))
      .orderBy("datetime")
      .collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("qualifier") == "ICE")
    assert(out(0).getAs[String]("approval") == "A")
    assert(out(1).getAs[String]("qualifier") == "EST")
    assert(out(1).getAs[String]("approval") == "P")
  }

  test("IncrementalDaily.refresh equals a full recompute on the touched scope") {
    import spark.implicits._
    def m(ts: Long, dt: String, v: Double) =
      (ts, java.sql.Timestamp.valueOf(dt), v, "mean", 0)
    val before = Seq(
      m(1L, "2023-01-01 06:00:00", 1.0), m(1L, "2023-01-02 06:00:00", 2.0),
      m(2L, "2023-01-01 06:00:00", 5.0)
    ).toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val newRows = Seq(m(1L, "2023-01-02 18:00:00", 4.0))
      .toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val after = before.unionByName(newRows)

    val dailyBefore = DailyAggregate(before)
    val changes = IncrementalIngest.changedRanges(newRows)
    val refreshed = IncrementalDaily.refresh(after, dailyBefore, changes)
    val full = DailyAggregate(after)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getDate(1).toString, r.getDouble(3), r.getLong(4))
    assert(refreshed.collect().map(key).toSet == full.collect().map(key).toSet)
    // series 2 untouched: its daily row must be the original object
    assert(refreshed.filter($"timeseries_id" === 2L).count() == 1)
  }

  test("IncrementalDaily.refresh recomputes whole local days only (non-midnight ranges)") {
    import spark.implicits._
    def m(ts: Long, dt: String, v: Double) =
      (ts, java.sql.Timestamp.valueOf(dt), v, "mean", 0)
    // day 2022-12-31 has rows at 03:00 and 23:00 (daily mean 15); the
    // new batch lands mid-day on 2023-01-02. A timestamp-widened scan
    // would clip 12-31 to [06:30, 24:00) and overwrite its daily row
    // with mean(20) — whole-local-day scoping must leave it at 15.
    val before = Seq(
      m(1L, "2022-12-31 03:00:00", 10.0), m(1L, "2022-12-31 23:00:00", 20.0),
      m(1L, "2023-01-02 02:00:00", 2.0)
    ).toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val newRows = Seq(m(1L, "2023-01-02 06:30:00", 4.0))
      .toDF("timeseries_id", "datetime", "value", "agg_type", "offset_hours")
    val after = before.unionByName(newRows)
    val refreshed = IncrementalDaily.refresh(
      after, DailyAggregate(before), IncrementalIngest.changedRanges(newRows))
    val full = DailyAggregate(after)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getDate(1).toString, r.getDouble(3), r.getLong(4))
    assert(refreshed.collect().map(key).toSet == full.collect().map(key).toSet)
    val d31 = refreshed.filter($"date" === "2022-12-31").select("value").head().getDouble(0)
    assert(d31 == 15.0, s"edge day must keep its full-day mean, got $d31")
  }
}
