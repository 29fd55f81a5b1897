package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Concrete adapters. Remote HTTP/API sources are represented by
  * file-based equivalents (zero-egress environment): the parsing,
  * code-mapping and normalization logic — the part the reference
  * implements per source — is real.
  */

/** Deterministic synthetic series, generating the reference's own
  * fixture formulas (`R/create_test_DB.R:874-1053`): pure
  * `sequence()` + trig projections, no RNG. `args`: "series" (one of
  * water_level/water_temperature/air_temperature/conductance),
  * "step_seconds", "from", "to".
  */
object SyntheticAdapter extends SourceAdapter {
  override val name = "downloadSynthetic"

  override def fetch(spark: SparkSession, cfg: SeriesConfig, startTs: java.sql.Timestamp): DataFrame = {
    val step = cfg.args.getOrElse("step_seconds", "900").toLong
    val from = cfg.args.getOrElse("from", "2020-01-01 00:00:00")
    val to = cfg.args.getOrElse("to", "2024-01-01 00:00:00")
    val t = col("epoch").cast("double")
    val value = cfg.args.getOrElse("series", "water_level") match {
      // round(10 + sin(t/86400)*0.25, 3)
      case "water_level" => round(lit(10.0) + sin(t / 86400.0) * 0.25, 3)
      // round(4 + cos(t/43200)*1.5, 3)
      case "water_temperature" => round(lit(4.0) + cos(t / 43200.0) * 1.5, 3)
      // round(-12 + sin(t/172800)*8, 2)
      case "air_temperature" => round(lit(-12.0) + sin(t / 172800.0) * 8.0, 2)
      // monotone drift 150 + n*0.5
      case "conductance" => lit(150.0) + (col("n") * 0.5)
      case other         => throw new IllegalArgumentException(s"unknown synthetic series $other")
    }
    val spine = spark
      .range(0, (java.sql.Timestamp.valueOf(to).getTime - java.sql.Timestamp.valueOf(from).getTime) / 1000L / step)
      .withColumnRenamed("id", "n")
      .withColumn("epoch", unix_timestamp(lit(from)) + col("n") * step)
      .withColumn("datetime", timestamp_seconds(col("epoch")))
    SourceAdapter.normalize(
      spine
        .withColumn("value", value)
        .withColumn("period_seconds", lit(step))
        .filter(col("datetime") >= lit(startTs))
        .select("datetime", "value", "period_seconds")
    )
  }
}

/** WSC-realtime-shaped CSV adapter: reads a CSV of
  * (datetime, value, qualifier_code, approval_code) and maps source
  * codes to canonical labels through literal map lookups — the shape
  * of `R/downloadWSC.R:105-201` (qualifier map :120-162, bilingual
  * approval map :164-201). `args`: "path".
  *
  * The file's four columns are declared as strings, so reading it
  * infers nothing; `enforceSchema=false` makes Spark check each file's
  * header against them, so a file whose columns are renamed or
  * reordered fails instead of landing values in the wrong columns.
  */
class CsvStationAdapter(transport: Transport) extends SourceAdapter {
  override val name = "downloadCsvStation"

  /** WSC-style numeric qualifier codes -> canonical labels. */
  val QualifierMap: Map[Int, String] =
    Map(-1 -> "UNS", 10 -> "ICE", 20 -> "EST", 30 -> "PRT", 40 -> "REV", 50 -> "DRY")

  /** Bilingual approval labels -> canonical codes. */
  val ApprovalMap: Map[String, String] = Map(
    "final" -> "A", "finales" -> "A",
    "provisional" -> "P", "provisoire" -> "P"
  )

  /** The landing file's header, every column read as a string. */
  val FileSchema: StructType =
    StructType(Seq("datetime", "value", "qualifier_code", "approval_label").map(StructField(_, StringType)))

  override def fetch(spark: SparkSession, cfg: SeriesConfig, startTs: java.sql.Timestamp): DataFrame = {
    val path = cfg.args.getOrElse("path", throw new IllegalArgumentException("path required"))
    val raw = transport.rows(spark, path, "csv", Map("header" -> "true", "enforceSchema" -> "false"), Some(FileSchema))
    // optional imperial->metric conversion (the NWIS pattern),
    // args: "convert" in ft_to_m | cfs_to_cms | f_to_c
    val converted = UnitConvert.convert(cfg.args.getOrElse("convert", "none"), col("value"))
    val qualifiers = typedLit(QualifierMap)
    val approvals = typedLit(ApprovalMap)
    SourceAdapter.normalize(
      raw
        .select(
          to_timestamp(col("datetime")).as("datetime"),
          col("value").cast("double").as("value"),
          qualifiers(col("qualifier_code").cast("int")).as("qualifier"),
          approvals(lower(col("approval_label"))).as("approval")
        )
        .filter(col("datetime") >= lit(startTs))
        .withColumn("value", converted)
    )
  }
}

/** Default instance on the fixture transport. */
object CsvStationAdapter extends CsvStationAdapter(FileTransport)

object Adapters {
  def default: AdapterRegistry =
    new AdapterRegistry(Seq(SyntheticAdapter, CsvStationAdapter, SwobXmlAdapter, StationWeatherAdapter))
}
