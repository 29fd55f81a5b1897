package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class SchemasSpec extends SparkSpec {

  test("declared schemas round-trip parquet unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("schemas").toString
    Seq(
      "timeseries" -> Schemas.timeseries,
      "measurements" -> Schemas.measurements,
      "daily" -> Schemas.calculatedDaily,
      "segments" -> Schemas.qcSegments,
      "corrections" -> Schemas.corrections,
      "samples" -> Schemas.samples,
      "results" -> Schemas.results,
      "audit" -> Schemas.auditLog
    ).foreach { case (name, schema) =>
      val df = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      df.write.mode("overwrite").parquet(s"$dir/$name")
      val back = spark.read.parquet(s"$dir/$name").schema
      // parquet drops nullability constraints; compare names + types
      assert(
        back.fields.map(f => f.name -> f.dataType).toSeq ==
          schema.fields.map(f => f.name -> f.dataType).toSeq,
        s"schema $name changed across a parquet round-trip"
      )
    }
  }

  test("corrections schema matches what the Corrections operator consumes") {
    import spark.implicits._
    val corr = Seq(
      (1L, 1L, "2023-01-01 00:00:00", "2023-01-02 00:00:00", "offset_linear", Some(2.0), Option.empty[Double], Option.empty[Long], Option.empty[String], 1)
    ).toDF("correction_id", "timeseries_id", "start_s", "end_s", "ctype", "value1", "value2", "window_seconds", "equation", "priority")
      .withColumn("start_dt", to_timestamp(col("start_s")))
      .withColumn("end_dt", to_timestamp(col("end_s")))
      .drop("start_s", "end_s")
    assert(Schemas.corrections.fieldNames.toSet.subsetOf(corr.columns.toSet))
    val pts = Seq((1L, "2023-01-01 06:00:00", 1.0))
      .toDF("timeseries_id", "dt_s", "value")
      .withColumn("datetime", to_timestamp(col("dt_s")))
      .drop("dt_s")
    val out = graft.operators.Corrections(pts, corr).select("corrected").head().getDouble(0)
    assert(out == 3.0)
  }

  test("localNoonUtc and localDay apply the reference's hour offsets") {
    import spark.implicits._
    val df = Seq(("2023-06-15", -7), ("2023-06-15", 0)).toDF("d", "off")
      .withColumn("date", col("d").cast("date"))
    val noon = df
      .select(Schemas.localNoonUtc(col("date"), col("off")).as("utc"))
      .collect()
      .map(_.getTimestamp(0).toString)
    // UTC-7 local noon = 19:00 UTC; UTC+0 local noon = 12:00 UTC
    assert(noon.toSeq == Seq("2023-06-15 19:00:00.0", "2023-06-15 12:00:00.0"))
    val day = Seq(("2023-06-15 03:00:00", -7))
      .toDF("ts_s", "off")
      .select(graft.operators.DailyAggregate.localDay(to_timestamp(col("ts_s")), col("off")).as("d"))
      .head().getDate(0).toString
    assert(day == "2023-06-14") // 03:00 UTC is still the previous local day at UTC-7
  }
}
